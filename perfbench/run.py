"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 10 --trace 0

Run from the repository root. Steps:

1. Stamp the host (nproc, load1, stray JVMs or pytest runs).
2. Build the seed's fixtures, cached under ``.perfbench_work/`` (not timed).
3. Start ``perfbench/worker.py`` in a fresh process on ``local[nproc]``;
   it times its set-up and then one pass over the workload's steps in the
   seed's order, committing every result as parquet. Workers are started
   one after another until ``--seconds`` have been measured (one worker
   per run on a 4-CPU host, where a worker takes longer than that).
4. Check every committed output with DuckDB (``check.py``), outside the
   timed section.
5. Print each metric by name with its unit, the failing queries, and as
   the last line one JSON object: ``correct``, ``attempted``, ``failed``
   and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
   metrics with ``--trace 1``).

With ``--trace 1`` one traced worker follows the untraced ones; the
per-layer numbers come from its pass, and the tracing overhead is its
pass wall time minus the untraced median. The spans are written to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DEADLINE_S = 160  # from process start; leaves time for the output checks

sys.path[:0] = [HERE, ROOT]

import stats  # noqa: E402
import workloads  # noqa: E402


def steal_s() -> float:
    """CPU time the hypervisor took from this host's vCPUs so far."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_stamp() -> dict:
    """nproc, load1 and live JVM / pytest processes, taken before our JVM
    starts, so a contended run is labelled as such in its record."""
    stray = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                args = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if comm == "java" or (comm.startswith(("python", "pytest")) and "pytest" in args):
            stray.append(f"{d} {comm} {args[:80]}")
    return {"nproc": os.cpu_count(), "load1": round(os.getloadavg()[0], 2), "stray_jvms": stray,
            "steal_at_start_s": steal_s()}


def stop_group(proc: subprocess.Popen, timeout_s: float = 10.0) -> None:
    """Kill the worker's process group (JVM and Python workers included)
    and wait until no member is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.time() + timeout_s
    while time.time() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(wl: dict, manifest: dict, args, prefix: str, deadline: float) -> dict:
    """Start one worker (a fresh process: set-up plus one pass), wait for
    it, and stop its whole process group. ``prefix`` is ``u<n>`` for the
    n-th untraced worker of the run and ``t0`` for the traced one."""
    trace = int(prefix.startswith("t"))
    tag = f"{args.workload}-seed{args.seed}-{prefix}"
    paths = {
        "outputs": os.path.join(WORK, "outputs", args.workload, prefix),
        "tmp": os.path.join(WORK, "tmp"),
        "spans": os.path.join(WORK, "traces", f"{tag}.spans.jsonl") if trace else "",
        "result": os.path.join(WORK, "records", f"{tag}.worker.json"),
        "log": os.path.join(WORK, "records", f"{tag}.log"),
    }
    data = manifest[wl["data"]]["path"]
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--steps", ",".join(workloads.ordered_steps(args.workload, args.seed)),
        "--data", data,
        "--reviews", manifest.get("reviews", {}).get("path", ""),
        "--warm", os.path.join(data, "lineitem.parquet"),
        "--trace", str(trace),
        "--prefix", prefix,
        "--outputs", paths["outputs"],
        "--spans", paths["spans"],
        "--out", paths["result"],
    ]
    env = dict(
        os.environ,
        # Python workers import the engine by module path, wherever the
        # checkout lives.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        TMPDIR=paths["tmp"],
        SPARK_LOCAL_DIRS=paths["tmp"],
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData",
    )
    with open(paths["log"], "w") as log:
        started = time.time()
        proc = subprocess.Popen(cmd, env=env, cwd=WORK, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            stop_group(proc)
    if rc != 0:
        with open(paths["log"]) as fh:
            tail = fh.read()[-2000:]
        raise SystemExit(f"worker failed (exit {rc}); log tail:\n{tail}")
    with open(paths["result"]) as fh:
        res = json.load(fh)
    res["setup_s"] = res["ready"] - started
    res["elapsed_s"] = time.time() - started
    return res


def end_to_end(untraced: list[dict]) -> tuple[dict, dict]:
    """End-to-end metrics over the untraced workers of a run, and notes."""
    passes = [r["pass"] for r in untraced]
    lat = [e["latency_s"] for p in passes for e in p["execs"]]
    tail_mean, tail_v, tail_pct = stats.tail_mean(lat)
    metrics = {
        "setup_s": (stats.median([r["setup_s"] for r in untraced]), "s"),
        "wall_s": (stats.median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (stats.median(lat), "s"),
        "query_tail_s": (tail_mean, "s"),
        "cpu_s": (stats.median([p["cpu_s"] for p in passes]), "s"),
    }
    notes = {
        "setup_s": f"median over {len(untraced)} fresh worker process(es)",
        "query_tail_s": f"mean of the samples from p{tail_pct} = {tail_v:.4f} s up, "
        f"of {len(lat)} samples" if tail_pct else f"max of {len(lat)} samples",
    }
    return metrics, notes


def per_layer(res: dict, untraced: list[dict], wl: dict, manifest: dict) -> dict:
    """Per-layer metrics of the traced worker's pass; the tracing overhead
    is taken against the untraced workers of the same seed."""
    layers, counts = res["layers"], res["layer_counts"]

    def total(layer: str, key: str = "total_s") -> float:
        return layers.get(layer, {}).get(key, 0.0)

    def count(name: str) -> float:
        return counts.get(name, 0)

    ex: dict[str, float] = {}
    for per_query in res["exec"].values():
        for k, v in per_query.items():
            ex[k] = ex.get(k, 0.0) + v
    lat_sum = sum(e["latency_s"] for e in res["pass"]["execs"])
    calls = count("catalog.load_table_calls")
    uses = count("stage_memo.consumptions")
    builds = count("stage_memo.builds")
    m = {
        "session.import_s": (res["session.import_s"], "s"),
        "session.get_spark_s": (res["session.get_spark_s"], "s"),
        "session.warmup_s": (res["session.warmup_s"], "s"),
        "registry.construct_s": (total("registry.construct"), "s"),
        "registry.construct_self_s": (total("registry.construct", "self_s"), "s"),
        "catalog.load_table_calls": (calls, "count"),
        "catalog.load_table_s": (total("catalog.load_table"), "s"),
        "catalog.relation_memo_hit_ratio": (
            count("catalog.relation_memo_hits") / calls if calls else 0.0, "ratio"),
        "plan.physical_s": (total("plan.physical"), "s"),
        "plan.exchanges": (count("plan.exchanges"), "count"),
        "plan.broadcast_joins": (count("plan.broadcast_joins"), "count"),
        "plan.codegen_stages": (ex.get("plan.codegen_stages", 0.0), "count"),
        "staging.checkpoints": (count("staging.checkpoints"), "count"),
        "staging.eager_s": (total("staging.checkpoint"), "s"),
        "stage_memo.builds": (builds, "count"),
        "stage_memo.build_s": (count("stage_memo.build_s"), "s"),
        "stage_memo.riders": (uses, "count"),
        "stage_memo.reuse_ratio": ((uses - builds) / uses if uses else 0.0, "ratio"),
    }
    for name in ("exec.jobs", "exec.stages", "exec.tasks", "exec.failed_tasks"):
        m[name] = (ex.get(name, 0.0), "count")
    for name in ("exec.executor_run_s", "exec.executor_cpu_s", "exec.jvm_gc_s"):
        m[name] = (ex.get(name, 0.0), "s")
    for name in ("exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
                 "exec.input_mb", "exec.output_mb"):
        m[name] = (ex.get(name, 0.0), "MB")
    m["exec.busy_frac"] = (
        ex.get("exec.executor_run_s", 0.0) / (lat_sum * os.cpu_count()) if lat_sum else 0.0,
        "ratio")
    m["exec.jvm_peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    for name in ("python.boot_s", "python.init_s", "python.total_s"):
        m[name] = (ex.get(name, 0.0), "s")
    for name in ("python.data_sent_mb", "python.data_received_mb"):
        m[name] = (ex.get(name, 0.0), "MB")
    convert_files, amplification = 0, 0.0
    if "convert" in wl["steps"]:
        out = next(e["out"] for e in res["pass"]["execs"] if e["step"] == "convert")
        files = [f for f in os.listdir(os.path.join(out, "files")) if f.endswith(".parquet")]
        convert_files = len(files)
        written = sum(os.path.getsize(os.path.join(out, "files", f)) for f in files)
        amplification = written / manifest["reviews"]["bytes"]
    m["sources.convert_s"] = (total("sources.convert"), "s")
    m["sources.output_files"] = (convert_files, "count")
    m["sources.write_amplification"] = (amplification, "ratio")
    m["trace.overhead_s"] = (
        res["pass"]["wall_s"] - stats.median([r["pass"]["wall_s"] for r in untraced]), "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "emr_with_custom_metrics_spark")):
        print(f"no engine package beside {HERE}: run from a full checkout", file=sys.stderr)
        return 2

    import check
    import fixtures

    wl = workloads.WORKLOADS[args.workload]
    stamp = host_stamp()
    manifest = fixtures.ensure(WORK, args.seed, wl["fixtures"])
    # Spark leaves per-context scratch directories behind; start clean.
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    for d in ("tmp", "traces", "records"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Fresh worker processes, each set-up plus one pass, until --seconds
    # have been measured; a traced run then adds one traced worker, so the
    # tracing overhead compares cold processes on the same seed.
    deadline = START + RUN_DEADLINE_S
    first = time.time()
    untraced = [run_worker(wl, manifest, args, "u0", deadline)]
    while (time.time() - first < args.seconds
           and time.time() + untraced[-1]["elapsed_s"] < deadline):
        untraced.append(run_worker(wl, manifest, args, f"u{len(untraced)}", deadline))
    runs = untraced + ([run_worker(wl, manifest, args, "t0", deadline)] if args.trace else [])
    execs = [e for r in runs for e in r["pass"]["execs"]]
    failures = check.check_all(
        execs, runs[0]["oracles"], manifest[wl["data"]]["path"],
        manifest.get("reviews", {}).get("path", ""))
    metrics, notes = end_to_end(untraced)
    if args.trace:
        metrics, notes = per_layer(runs[-1], untraced, wl, manifest), {}
    failing = sorted({e["step"] for e in execs if e["exec_id"] in failures})
    # Reported, not gated: the JVM's heap growth moves it by more than the
    # largest bound between seeds (it is the traced run's exec.jvm_peak_rss_mb).
    rss = stats.median([r["peak_rss_mb"] for r in untraced])
    stamp["steal_s"] = round(steal_s() - stamp.pop("steal_at_start_s"), 2)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": stamp, "fixtures": manifest,
        "metrics": {k: v for k, (v, _u) in metrics.items()}, "notes": notes,
        "failures": failures, "workers": runs,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(WORK, "records", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"workload {args.workload} seed {args.seed} nproc {stamp['nproc']} "
          f"load1 {stamp['load1']} stray_jvms {len(stamp['stray_jvms'])} steal_s {stamp['steal_s']}")
    sizes = ", ".join(f"{k} {v['bytes'] / 2**20:.1f} MiB" for k, v in manifest.items())
    print(f"fixtures: {sizes}")
    for name, (value, unit) in metrics.items():
        note = f"  ({notes[name]})" if name in notes else ""
        print(f"{name:34s} {value:14.4f} {unit}{note}")
    print(f"{'JVM peak RSS':34s} {rss:14.4f} MB  (reported, not a gated metric)")
    print(f"failed_frac {len(failures) / len(execs):.4f} ({len(failures)}/{len(execs)} executions)"
          f"; failing queries: {', '.join(failing) or 'none'}")
    for exec_id, err in sorted(failures.items()):
        print(f"  {exec_id}: {err[:200]}")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(execs),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
