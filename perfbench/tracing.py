"""Spans and counters for the traced run, recorded from the benchmark's own
files around calls into each layer's public functions.

``install`` swaps wrappers in for the layer entry points (catalog
``load_table``, ``DataFrame.localCheckpoint``, the stage-memo hooks) in
every already-imported module that bound them by name. Spans stay in
memory until ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import sys
import time


class NullTracer:
    """Stands in for ``Tracer`` in untraced runs: records nothing."""

    enabled = False
    qid: str | None = None

    def span(self, layer: str):
        return contextlib.nullcontext()

    def add(self, name: str, value: float = 1) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.qid: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "qid": self.qid,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _rebind(original, replacement) -> None:
    """Point every loaded module attribute bound to ``original`` at
    ``replacement`` (``from x import f`` copies the binding)."""
    for mod in list(sys.modules.values()):
        d = getattr(mod, "__dict__", None)
        if not d or not getattr(mod, "__name__", "").startswith("emr_with_custom_metrics_spark"):
            continue
        for k, v in list(d.items()):
            if v is original:
                setattr(mod, k, replacement)


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points so every call records into ``tracer``."""
    try:  # PySpark 4 splits the classic DataFrame from the API class
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from emr_with_custom_metrics_spark import catalog
    from emr_with_custom_metrics_spark.plans import stage_memo

    load_table = catalog.load_table

    def traced_load_table(spark, sf_dir, name):
        memo = getattr(spark, "_graft_table_plan_memo", None) or {}
        tracer.add("catalog.load_table_calls")
        tracer.add("catalog.relation_memo_hits", (sf_dir, name) in memo)
        with tracer.span("catalog.load_table"):
            return load_table(spark, sf_dir, name)

    _rebind(load_table, traced_load_table)

    local_checkpoint = DataFrame.localCheckpoint

    def traced_local_checkpoint(self, *args, **kwargs):
        tracer.add("staging.checkpoints")
        with tracer.span("staging.checkpoint"):
            return local_checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = traced_local_checkpoint

    note_rider = stage_memo.note_rider

    def traced_note_rider():
        tracer.add("stage_memo.consumptions")
        return note_rider()

    _rebind(note_rider, traced_note_rider)

    enter, exit_ = stage_memo.timed_build.__enter__, stage_memo.timed_build.__exit__

    def traced_enter(self):
        self._perfbench_span = tracer.span("stage_memo.build")
        self._perfbench_span.__enter__()
        return enter(self)

    def traced_exit(self, *exc):
        exit_(self, *exc)
        self._perfbench_span.__exit__(None, None, None)

    stage_memo.timed_build.__enter__ = traced_enter
    stage_memo.timed_build.__exit__ = traced_exit
