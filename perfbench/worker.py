"""The timed half of one benchmark run, in a fresh process.

Started by ``run.py``: imports the engine, builds the session, warms it
up (``warm_up``), then executes one pass over the workload's steps, one
at a time in the seed's order, committing every result as parquet (the
reference's S2 sink). With ``--trace 1`` the pass is traced, and the
spans, layer counters and REST-harvested stage totals are written beside
the timings.

Output: one JSON file (``--out``) that ``run.py`` turns into metrics after
checking the committed outputs.
"""

import argparse
import json
import os
import re
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


class ProcTree:
    """CPU seconds and peak RSS of a process and its descendants (/proc)."""

    def __init__(self, pid: int) -> None:
        self.pid = pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def pids(self) -> list[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = [self.pid], [self.pid]
        while frontier:
            frontier = [p for p, pp in parent.items() if pp in frontier]
            tree.extend(frontier)
        return tree

    def cpu_s(self) -> float:
        total = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        return total / self.tick

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


def jvm_pid(spark) -> int:
    """The Spark JVM: the gateway process, or its java descendant."""
    pid = spark.sparkContext._gateway.proc.pid
    for p in ProcTree(pid).pids():
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    return p
        except OSError:
            continue
    return pid


def _plan_counts(df, tracer) -> None:
    """Physical planning time and plan shape from ``plans.inspect``."""
    from emr_with_custom_metrics_spark.plans import inspect

    with tracer.span("plan.physical"):
        tracer.add("plan.exchanges", inspect.count_exchanges(df))
    # The plan is built by now; inspect only says whether a broadcast join
    # exists, so count the numbered nodes in the same text.
    text = inspect.formatted_plan(df)
    joins = re.findall(r"\((\d+)\) Broadcast(?:Hash|NestedLoop)Join", text)
    tracer.add("plan.broadcast_joins", len(set(joins)))


def warm_up(spark, parquet: str, out: str) -> None:
    """One scan with a shuffle aggregate, committed as parquet: the read,
    exchange and sink paths every timed step shares."""
    counts = spark.read.parquet(parquet).groupBy("l_returnflag").count()
    counts.write.mode("overwrite").parquet(out)


def run_step(spark, specs, step, args, out_dir, tracer) -> None:
    """One timed execution: construct, (plan when traced), commit."""
    from emr_with_custom_metrics_spark.plans import stage_memo

    memo_before = dict(stage_memo.BUILD_SECS)
    if step == "convert":
        from emr_with_custom_metrics_spark.sources import reference_pipeline

        with tracer.span("sources.convert"):
            counts = reference_pipeline.convert(spark, args.reviews, os.path.join(out_dir, "files"))
            counts.write.mode("overwrite").parquet(os.path.join(out_dir, "counts"))
    else:
        with tracer.span("registry.construct"):
            df = specs[step].fn(spark, args.data)
        if tracer.enabled:
            _plan_counts(df, tracer)
        with tracer.span("exec.write"):
            df.write.mode("overwrite").parquet(out_dir)
    for key, secs in stage_memo.BUILD_SECS.items():
        grown = secs - memo_before.get(key, 0.0)
        if grown > 0:
            tracer.add("stage_memo.builds")
            tracer.add("stage_memo.build_s", grown)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_pass(spark, specs, steps, args, tracer) -> dict:
    """Execute every step once, in the given order."""
    sc = spark.sparkContext
    tree = ProcTree(jvm_pid(spark))
    parent = os.getppid()
    cpu0 = tree.cpu_s()
    start = time.perf_counter()
    execs = []
    for i, step in enumerate(steps):
        if os.getppid() != parent:
            raise SystemExit("run.py has gone; stopping")
        exec_id = f"{args.prefix}_{i:03d}"
        out_dir = os.path.join(args.outputs, exec_id)
        sc.setJobGroup(exec_id, step)
        tracer.qid = exec_id
        rec = {"exec_id": exec_id, "step": step, "out": out_dir, "error": None}
        t0 = time.perf_counter()
        try:
            with tracer.span("query"):
                run_step(spark, specs, step, args, out_dir, tracer)
        except Exception as exc:  # a failed query is counted, the run goes on
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["latency_s"] = time.perf_counter() - t0
        log(f"  {exec_id} {step:40s} {rec['latency_s']:7.3f}s  {rec['error'] or ''}")
        execs.append(rec)
    return {"wall_s": time.perf_counter() - start, "cpu_s": tree.cpu_s() - cpu0, "execs": execs}


def traced_pass(spark, specs, steps, args) -> dict:
    """A traced pass: spans, layer counters and REST stage totals."""
    import harvest
    import stats
    from tracing import Tracer, install

    tracer = Tracer()
    install(tracer)
    one = run_pass(spark, specs, steps, args, tracer)
    if args.spans:
        tracer.dump(args.spans)
    return {
        "pass": one,
        "layer_counts": tracer.counts,
        "layers": stats.rollup(tracer.spans),
        "exec": harvest.harvest(spark, {e["exec_id"] for e in one["execs"]}),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--steps", required=True, help="comma-separated steps, in run order")
    ap.add_argument("--data", required=True)
    ap.add_argument("--reviews", default="")
    ap.add_argument("--warm", required=True, help="parquet file scanned by the warm-up")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--prefix", required=True, help="execution id prefix, unique per run")
    ap.add_argument("--outputs", required=True)
    ap.add_argument("--spans", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    shutil.rmtree(args.outputs, ignore_errors=True)
    t0 = time.perf_counter()
    from emr_with_custom_metrics_spark import registry, session

    specs = registry.all_specs()
    t1 = time.perf_counter()
    spark = session.get_spark(
        app_name="perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, args.warm, os.path.join(args.outputs, "warmup"))
    t3 = time.perf_counter()
    ready = time.time()

    steps = args.steps.split(",")
    result = {
        "ready": ready,
        "session.import_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.warmup_s": t3 - t2,
        "oracles": {n: specs[n].oracle for n in set(steps) if n in specs and specs[n].oracle},
    }
    if args.trace:
        result.update(traced_pass(spark, specs, steps, args))
    else:
        from tracing import NullTracer

        result["pass"] = run_pass(spark, specs, steps, args, NullTracer())
    result["peak_rss_mb"] = ProcTree(jvm_pid(spark)).peak_rss_mb()
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
