"""The metric names the benchmark emits are exactly those BENCHMARK.json
declares, with the units it declares, and every name is well formed."""

import json
import os

import layers
import stats
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_spec_shape_and_names():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    for n in names:
        assert stats.NAME_RE.match(n), n
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert stats.UNIT_RE.match(m["unit"]), m
        assert m["better"] in ("lower", "higher")
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _figures(tmp_path, workload="build"):
    """Figures as a workload returns them."""
    ctx = workloads.Ctx(spark=None, work=str(tmp_path), seed=1, seconds=1.0, workload=workload)
    for name in ("build",) + tuple(span[workload] for span in workloads.OP_METRICS.values()):
        ctx.spans.run(name, lambda: None)
    ctx.lookups = [{"gen": 0, "kind": "leaf", "ms": float(i), "cpu_ms": 1.0} for i in range(20)]
    (tmp_path / "planet").mkdir(parents=True)
    (tmp_path / "planet" / "part.parquet").write_bytes(b"x" * 1024)
    vals = workloads._figures(ctx, 1.0, 2.0, str(tmp_path / "planet"))
    return vals


def test_emitted_end_to_end_names_match_spec(tmp_path):
    for workload in workloads.WORKLOADS:
        figures = _figures(tmp_path / workload, workload)
        out = {m["name"]: dict(zip(("value", "unit"), figures[m["name"]])) for m in SPEC["end_to_end"]}
        assert stats.validate_metrics(out, SPEC["end_to_end"]) == []


def test_every_operation_metric_reads_a_span_of_every_workload():
    for spans in workloads.OP_METRICS.values():
        assert set(spans) == set(workloads.WORKLOADS)


def test_emitted_per_layer_names_match_spec(tmp_path):
    empty = {"total": {"task_s": 0.0}, "spans": [], "stages": {}, "sql": [], "attributed_task_s": 0.0}
    metrics = layers.per_layer(empty, [], {}, [], _figures(tmp_path), [])
    out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    assert stats.validate_metrics(out, SPEC["per_layer"]) == []


def test_validate_metrics_reports_each_kind_of_problem():
    spec = [{"name": "a_s", "unit": "s"}, {"name": "b_ms", "unit": "ms"}]
    got = {"a_s": {"value": 1.0, "unit": "ms"}, "c": {"value": 1.0, "unit": "s"}}
    problems = stats.validate_metrics(got, spec)
    assert any("missing metric b_ms" in p for p in problems)
    assert any("c not in BENCHMARK.json" in p for p in problems)
    assert any("unit of a_s" in p for p in problems)
    bad = stats.validate_metrics({"a_s": {"value": float("nan"), "unit": "s"}}, spec[:1])
    assert bad and "finite" in bad[0]
