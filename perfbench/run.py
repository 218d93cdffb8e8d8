"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload recrawl-update --seed 1 --seconds 30 --trace 0

A run is one process and a closed loop with one client: set up (several
times, keeping the last), run one untimed warm-up job (Spark workloads),
then run jobs back to back, each checked against the oracles, until
``--seconds`` would be exceeded (at least one job). ``--trace 0`` reports
the end-to-end metrics. ``--trace 1`` runs a traced and then an untraced
job, reports the per-layer metrics of the traced one and writes its spans
to ``perfbench/traces/``. Scratch data lives in ``perfbench/.work/`` and
is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

SETUP_REPEATS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate_environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, and let Python workers import pargraph_spark."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher included: temp files under work,
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the jobs hold a few MB of data; a small heap keeps the JVM's peak RSS
    # from following G1's heap-growth timing (get_spark's default is 8g)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"


def start_spark(work: Path, cores: int):
    from pargraph_spark.session import get_spark

    return get_spark("pargraph-perfbench", cores=cores, extra_conf={
        "spark.ui.enabled": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the traced run reads every job's stages back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    procs = descendants(os.getpid())
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: Path) -> dict:
    from perfbench.spans import NullRecorder, SpanRecorder
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(seed=args.seed, cores=len(os.sched_getaffinity(0)), work=str(work))

    # set-up: session start, input generation, oracles; repeated, last kept
    setup_s, start_s = [], []
    try:
        for k in range(SETUP_REPEATS):
            t0 = time.monotonic()
            if wl.uses_spark:
                if ctx.spark is not None:
                    ctx.spark.stop()
                ctx.spark = start_spark(work, ctx.cores)
            start_s.append(time.monotonic() - t0)
            d = work / f"setup{k}"
            d.mkdir()
            ctx.state = {}
            wl.setup(ctx, str(d))
            setup_s.append(time.monotonic() - t0)
            if k:
                shutil.rmtree(work / f"setup{k - 1}")

        # peak RSS is taken over the warm-up and the timed jobs: reset after
        # the warm-up, it would only show how far G1 happened to have grown
        pids = [os.getpid()] + ([jvm_pid(ctx.spark)] if ctx.spark is not None else [])
        reset_peak_rss(pids)
        if wl.uses_spark:
            # a fresh JVM compiles every plan and warms its JIT on the first
            # job; one capped, untimed job takes that out of the timed ones
            wl.reset(ctx)
            wl.job(ctx, NullRecorder(), warmup=True)
        rec = SpanRecorder(ctx.spark)
        jobs: list[dict] = []
        attempted = mismatched = raised = 0
        t_start = time.monotonic()
        while True:
            traced = args.trace == 1 and not jobs
            wl.reset(ctx)
            t0 = time.monotonic()
            if traced:
                with rec.span("job"):  # parent of the layer spans
                    out = wl.job(ctx, rec)
            else:
                out = wl.job(ctx, NullRecorder())
            out["job_s"] = time.monotonic() - t0
            out["traced"] = traced
            a, m, r = wl.check(ctx, out)
            attempted, mismatched, raised = attempted + a, mismatched + m, raised + r
            jobs.append(out)
            if args.trace:
                if len(jobs) == 2:  # traced, then untraced
                    break
            elif time.monotonic() - t_start + out["job_s"] > args.seconds:
                break
        rss = peak_rss_mb(pids)

        plain = [o for o in jobs if not o["traced"]]
        job_s = [o["job_s"] for o in plain]
        if args.trace == 0:
            values = {
                "setup_s": statistics.median(setup_s),
                "job_s": statistics.median(job_s),
                "throughput": wl.throughput(plain),
                "success_frac": (attempted - mismatched - raised) / attempted,
                "peak_rss_mb": rss,
            }
            units = metric_units("end_to_end")
        else:
            traced_jobs = [o for o in jobs if o["traced"]]
            values = layer_metrics(wl, ctx, rec, traced_jobs)
            values["session.start_s"] = statistics.median(start_s) if wl.uses_spark else 0.0
            values["trace.overhead_frac"] = (
                statistics.median(o["job_s"] for o in traced_jobs) / statistics.median(job_s)
                - 1.0)
            units = metric_units("per_layer")
            (HERE / "traces").mkdir(exist_ok=True)
            rec.write(str(HERE / "traces" / f"{args.workload}-seed{args.seed}-{rec.run_id}.json"))
        print(json.dumps({"job_s": [o["job_s"] for o in jobs], "setup_s": setup_s}),
              file=sys.stderr)
        return {
            "correct": mismatched == 0,
            "attempted": attempted,
            "failed": mismatched + raised,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json defines."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def layer_metrics(wl, ctx, rec, traced_jobs) -> dict:
    """Every per-layer metric; a layer the workload does not run reads 0."""
    from perfbench.workloads import spark_totals

    m = dict.fromkeys(metric_units("per_layer"), 0.0)
    m.update(wl.layer_metrics(ctx, rec, traced_jobs))
    if ctx.spark is not None:
        m.update(spark_totals(rec))
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    isolate_environment(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
