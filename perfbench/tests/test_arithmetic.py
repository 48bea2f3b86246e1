"""Checks of the benchmark's own arithmetic: the tail-percentile rule, span
self time, SQL-metric parsing and seed determinism of fixtures and order.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import fixtures  # noqa: E402
import harvest  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def test_tail_leaves_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 100 samples
    value, pct = stats.tail(values)
    assert pct == 90
    assert value == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_is_the_highest_such_percentile():
    values = [float(i) for i in range(1, 41)]  # 40 samples
    value, pct = stats.tail(values)
    assert sum(v > value for v in values) >= 10
    higher = stats.nearest_rank(values, pct + 1)
    assert sum(v > higher for v in values) < 10
    assert (value, pct) == (30.0, 75)


def test_tail_without_enough_samples_is_the_max():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, None)
    assert stats.tail([float(i) for i in range(19)]) == (18.0, None)
    assert stats.tail([float(i) for i in range(20)]) == (9.0, 50)
    assert stats.tail([float(i) for i in range(10)]) == (9.0, None)


def test_tail_mean_averages_from_the_tail_rank_up():
    values = [float(i) for i in range(1, 41)]  # tail is p75 = 30.0
    mean, value, pct = stats.tail_mean(values)
    assert (value, pct) == (30.0, 75)
    assert mean == pytest.approx(sum(range(30, 41)) / 11)
    assert stats.tail_mean([1.0, 5.0]) == (5.0, 5.0, None)


def test_nearest_rank():
    assert stats.nearest_rank([5.0, 1.0, 3.0], 50) == 3.0
    assert stats.nearest_rank([5.0, 1.0, 3.0], 100) == 5.0
    assert stats.nearest_rank([5.0, 1.0, 3.0], 1) == 1.0


def _span(sid, start, end, parent=None, layer="x"):
    return {"id": sid, "qid": "q", "layer": layer, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_overlapping_children_once():
    spans = [
        _span(0, 0.0, 10.0, layer="query"),
        _span(1, 1.0, 4.0, 0, "a"),
        _span(2, 3.0, 6.0, 0, "b"),  # overlaps child 1 on [3, 4]
        _span(3, 8.0, 12.0, 0, "c"),  # runs past the parent's end
        _span(4, 1.5, 2.0, 1, "d"),  # grandchild: not subtracted from 0
    ]
    selfs = stats.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert selfs[1] == pytest.approx(3.0 - 0.5)
    assert selfs[4] == pytest.approx(0.5)


def test_rollup_sums_per_layer():
    spans = [
        _span(0, 0.0, 4.0, layer="registry.construct"),
        _span(1, 1.0, 2.0, 0, "catalog.load_table"),
        _span(2, 5.0, 7.0, layer="registry.construct"),
    ]
    r = stats.rollup(spans)
    assert r["registry.construct"] == {"calls": 2, "total_s": 6.0, "self_s": 5.0}
    assert r["catalog.load_table"]["self_s"] == 1.0


def test_union_length():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0


def test_sql_metric_parsing():
    text = "total (min, med, max (stageId: taskId))\n5.2 s (1.3 s, 1.3 s, 1.3 s (stage 3.0: task 2))"
    assert harvest.metric_value(text) == pytest.approx(5.2)
    assert harvest.metric_value("total (min, med, max)\n166 ms (18 ms)") == pytest.approx(0.166)
    assert harvest.metric_value("192.2 KiB") == pytest.approx(192.2 * 1024)
    assert harvest.metric_value("1,234") == 1234


def test_query_order_depends_only_on_seed():
    for name in workloads.WORKLOADS:
        a = workloads.ordered_steps(name, 7)
        assert a == workloads.ordered_steps(name, 7)
        assert sorted(a) == sorted(workloads.WORKLOADS[name]["steps"])
    assert workloads.ordered_steps("olap_sf0.1", 1) != workloads.ordered_steps("olap_sf0.1", 2)


def _digests(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_fixtures_are_byte_identical_per_seed(tmp_path):
    for d in ("a", "b"):
        fixtures.ensure(str(tmp_path / d), 5, ("sf0.1", "reviews"))
    a = _digests(tmp_path / "a" / "fixtures")
    b = _digests(tmp_path / "b" / "fixtures")
    a.pop("seed5/manifest.json")
    b.pop("seed5/manifest.json")
    assert a and a == b

    fixtures.write_sf(5, 0.01, str(tmp_path / "s5"))
    fixtures.write_sf(6, 0.01, str(tmp_path / "s6"))
    s5, s6 = _digests(tmp_path / "s5"), _digests(tmp_path / "s6")
    assert s5["region.parquet"] == s6["region.parquet"]
    assert s5["lineitem.parquet"] != s6["lineitem.parquet"]


def test_fixture_cache_keeps_recent_seeds(tmp_path, monkeypatch):
    monkeypatch.setattr(fixtures, "write_sf", lambda seed, sf, dest: os.makedirs(dest))
    for seed in range(fixtures.KEEP_SEEDS + 2):
        fixtures.ensure(str(tmp_path), seed, ("sf0.1",))
    kept = sorted(os.listdir(tmp_path / "fixtures"))
    assert len(kept) == fixtures.KEEP_SEEDS
    assert f"seed{fixtures.KEEP_SEEDS + 1}" in kept and "seed0" not in kept


def _fake_result(latencies, setup_s=12.0):
    execs = [{"exec_id": f"u0_{i:03d}", "step": "q", "latency_s": v, "out": "", "error": None}
             for i, v in enumerate(latencies)]
    return {
        "setup_s": setup_s, "peak_rss_mb": 1000.0,
        "session.import_s": 1.0, "session.get_spark_s": 6.0, "session.warmup_s": 4.0,
        "pass": {"wall_s": sum(latencies), "cpu_s": 3.0, "execs": execs},
        "layers": {}, "layer_counts": {}, "exec": {},
    }


def test_metric_names_match_benchmark_json():
    import json

    import run

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(os.path.dirname(HERE), "layers.json")) as fh:
        layers = json.load(fh)["layers"]
    res = _fake_result([1.0, 2.0, 3.0])
    e2e, _notes = run.end_to_end([res, _fake_result([2.0, 2.0, 4.0], 14.0), _fake_result([9.0], 20.0)])
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert {k: u for k, (_v, u) in e2e.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    wl = workloads.WORKLOADS["llm_corpus_sf0.1"]
    per = run.per_layer(res, [res], wl, {})
    assert list(per) == [m["name"] for m in bench["per_layer"]] == list(layers)
    assert {k: u for k, (_v, u) in per.items()} == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert per["trace.overhead_s"][0] == 0.0
    assert e2e["setup_s"][0] == 14.0  # median over the fresh processes
    assert e2e["wall_s"][0] == 8.0
    assert e2e["query_p50_s"][0] == 2.0  # pooled over all executions
    assert e2e["query_tail_s"][0] == 9.0  # 7 samples: no percentile, the max
