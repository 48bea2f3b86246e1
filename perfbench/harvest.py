"""Per-query execution totals from Spark's status REST API.

Each timed execution runs under its own job group, so the jobs endpoint
maps groups to stage ids and the SQL endpoint maps job ids to executed
plans. This is the scrape-a-REST-endpoint pattern of the reference's
``custom-metrics.sh``, pointed at the engine's own UI, read once after the
traced pass so it adds no action to any query.
"""

from __future__ import annotations

import json
import re
import urllib.request

_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"([\d,.]+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse one SQL-metric display string: ``'1.2 MiB'``, ``'3.1 s'`` or
    ``'total (min, med, max ...)\\n166 ms (18 ms, ...)'`` (the total counts).
    Times come back in seconds and sizes in bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.search(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return num * _TIME.get(unit, _SIZE.get(unit, 1.0))


def _get(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as resp:
        return json.load(resp)


STAGE_FIELDS = {
    "exec.tasks": ("numTasks", 1),
    "exec.failed_tasks": ("numFailedTasks", 1),
    "exec.executor_run_s": ("executorRunTime", 1e-3),
    "exec.executor_cpu_s": ("executorCpuTime", 1e-9),
    "exec.jvm_gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_read_mb": ("shuffleReadBytes", 2**-20),
    "exec.shuffle_write_mb": ("shuffleWriteBytes", 2**-20),
    "exec.spill_mb": ("diskBytesSpilled", 2**-20),
    "exec.input_mb": ("inputBytes", 2**-20),
    "exec.output_mb": ("outputBytes", 2**-20),
}
PYTHON_FIELDS = {
    "python.boot_s": "time to start Python workers",
    "python.init_s": "time to initialize Python workers",
    "python.total_s": "time to run Python workers",
    "python.data_sent_mb": "data sent to Python workers",
    "python.data_received_mb": "data returned from Python workers",
}


def harvest(spark, groups: set[str]) -> dict[str, dict[str, float]]:
    """Totals per job group for ``groups``: jobs, stages and the stage
    fields above, the Python-node SQL metrics, and whole-stage-codegen
    stages of the executed plans."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(base, "/jobs")
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(base, "/stages")}
    executions = _get(base, "/sql?details=true&planDescription=false&length=100000")
    out: dict[str, dict[str, float]] = {g: {} for g in groups}
    job_group: dict[int, str] = {}
    stage_ids: dict[str, set[int]] = {g: set() for g in groups}
    for j in jobs:
        g = j.get("jobGroup")
        if g in out:
            job_group[j["jobId"]] = g
            out[g]["exec.jobs"] = out[g].get("exec.jobs", 0) + 1
            stage_ids[g].update(j["stageIds"])
    for (sid, _attempt), s in stages.items():
        if s["status"] not in ("COMPLETE", "FAILED"):
            continue
        for g, ids in stage_ids.items():
            if sid in ids:
                r = out[g]
                r["exec.stages"] = r.get("exec.stages", 0) + 1
                for name, (field, scale) in STAGE_FIELDS.items():
                    r[name] = r.get(name, 0) + s.get(field, 0) * scale
    for e in executions:
        ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
        groups_of = {job_group[i] for i in ids if i in job_group}
        if len(groups_of) != 1:
            continue
        r = out[groups_of.pop()]
        codegen = {n["wholeStageCodegenId"] for n in e["nodes"] if "wholeStageCodegenId" in n}
        r["plan.codegen_stages"] = r.get("plan.codegen_stages", 0) + len(codegen)
        for n in e["nodes"]:
            metrics = {m["name"]: m["value"] for m in n.get("metrics", [])}
            for name, label in PYTHON_FIELDS.items():
                if label in metrics:
                    v = metric_value(metrics[label])
                    if name.endswith("_mb"):
                        v /= 2**20
                    r[name] = r.get(name, 0) + v
    return out
