"""Per-layer metrics of a traced run: the event-log fold (Spark task,
GC, shuffle, spill and Python-worker counters per span and per build
stage) joined with the engine's own run records (``_lineage.json`` stage
walls, ``_compaction.json`` fold steps) and the benchmark's spans."""

from __future__ import annotations

from stats import median, slope
from workloads import OP_METRICS

STAGES = [
    "points_sorted", "way_features", "relation_features", "external_members",
    "tile_tree", "content", "content_mp", "tiles", "tile_manifest", "zoom_metrics",
]
STAGE_FIELDS = {"wall_s": "s", "task_s": "s", "py_s": "s", "py_mb": "MB", "shuffle_mb": "MB"}
FOLD_STEPS = [
    "delta_points", "dirty_set", "points_append", "content_append",
    "tree_merge", "dirty_cluster", "manifest_metrics", "recompose",
]
SPARK_FIELDS = {
    "task_s": "s", "gc_s": "s", "spill_mb": "MB", "shuffle_mb": "MB",
    "py_s": "s", "py_mb": "MB", "jobs": "count", "idle_s": "s",
}
# spans whose Spark work is the workload's own (not input set-up or checks)
TIMED_SPANS = ("build", "lookup", "pip", "pip_partitioned", "radius", "fold", "resolve", "scan")
TRACED = [
    "setup_raw_s", "setup_s", "build_s", "build_raw_cpu_s", "build_cpu_s", "speed_scale", "ops_s", *OP_METRICS,
    "lookup_p50_ms", "lookup_cpu_ms",
]


def _sum_sql(sql: dict, suffix: str, node_pred=lambda n: True) -> float:
    total = 0.0
    for key, val in sql.items():
        node, _, metric = key.rpartition(":")
        if metric == suffix and node_pred(node):
            total += val
    return total


def _is_join(node: str) -> bool:
    return node.endswith("Join") or node == "CartesianProduct"


def per_layer(folded: dict, spans: list[dict], notes: dict, lookups: list,
              figures: dict, untraced: list[dict]) -> dict:
    """Every per-layer metric, as {name: (value, unit)}; layers a
    workload does not run report 0."""
    out: dict[str, tuple[float, str]] = {}
    span_tot = folded["spans"]

    def spans_named(name: str) -> list[int]:
        return [i for i, s in enumerate(spans) if s["name"] == name]

    def span_sum(name: str, key: str) -> float:
        return sum(span_tot[i][key] for i in spans_named(name))

    def sql_of(name: str) -> dict:
        merged: dict[str, float] = {}
        for i in spans_named(name):
            for k, v in folded["sql"][i].items():
                merged[k] = merged.get(k, 0.0) + v
        return merged

    # build stages: walls from the lineage sidecars, counters from the log
    walls = notes.get("stage_walls", {})
    for st in STAGES:
        tot = folded["stages"].get(st, {})
        for f, unit in STAGE_FIELDS.items():
            val = walls.get(st, 0.0) if f == "wall_s" else tot.get(f, 0.0)
            out[f"stage.{st}.{f}"] = (val, unit)
    out["stage.other.task_s"] = (folded["stages"].get("other", {}).get("task_s", 0.0), "s")

    # compaction: fold step walls from _compaction.json, jobs/idle from the log
    folds = [r for r in notes.get("compaction", []) if "steps" in r]
    for step in FOLD_STEPS:
        vals = [r["steps"].get(step, 0.0) for r in folds]
        out[f"fold.{step}.wall_s"] = (median(vals) if vals else 0.0, "s")
    fold_idx = spans_named("fold")
    fold_walls = [spans[i]["end"] - spans[i]["start"] for i in fold_idx]
    out["fold.p50_s"] = (median(fold_walls) if fold_walls else 0.0, "s")
    out["fold.jobs"] = (median([span_tot[i]["jobs"] for i in fold_idx]) if fold_idx else 0, "count")
    out["fold.idle_s"] = (median([span_tot[i]["idle_s"] for i in fold_idx]) if fold_idx else 0.0, "s")
    out["fold.dirty_tiles"] = (median([r["dirty_tiles"] for r in folds]) if folds else 0, "count")
    out["resolve.wall_s"] = (sum(spans[i]["end"] - spans[i]["start"] for i in spans_named("resolve")), "s")
    out["scan.wall_s"] = (sum(spans[i]["end"] - spans[i]["start"] for i in spans_named("scan")), "s")

    # serving
    n_look = max(1, len(lookups))
    lk_sql = sql_of("lookup")
    out["lookup.count"] = (len(lookups), "count")
    out["lookup.jobs"] = (span_sum("lookup", "jobs") / n_look, "count")
    out["lookup.files_read"] = (_sum_sql(lk_sql, "number of files read") / n_look, "count")
    out["lookup.kb_read"] = (_sum_sql(lk_sql, "size of files read") / 1024 / n_look, "KB")
    gens = sorted({lk["gen"] for lk in lookups})
    p50s = [median([lk["ms"] for lk in lookups if lk["gen"] == g]) for g in gens]
    out["lookup.gen_slope_ms"] = (slope(gens, p50s), "ms/gen")
    miss = [lk["ms"] for lk in lookups if lk["kind"] in ("odd", "absent")]
    out["lookup.miss_p50_ms"] = (median(miss) if miss else 0.0, "ms")

    # spatial joins
    def wall(name: str) -> float:
        return sum(spans[i]["end"] - spans[i]["start"] for i in spans_named(name))

    pip_sql = sql_of("pip")
    pip_cand = _sum_sql(pip_sql, "number of output rows", lambda n: n == "ArrowEvalPython")
    pip_rows = notes.get("pip_rows") or 0
    out["pip.wall_s"] = (wall("pip"), "s")
    out["pip.candidates"] = (pip_cand, "count")
    out["pip.match_ratio"] = (pip_rows / pip_cand if pip_cand else 0.0, "ratio")
    pp_sql = sql_of("pip_partitioned")
    pp_rows = notes.get("pip_partitioned_rows") or 0
    # two joins run here: points x cover tiles (the candidates) and the
    # matched rows x polygon attributes (one row per match)
    pp_cand = _sum_sql(pp_sql, "number of output rows", _is_join) - pp_rows
    out["pip_partitioned.wall_s"] = (wall("pip_partitioned"), "s")
    out["pip_partitioned.candidates"] = (max(pp_cand, 0.0), "count")
    out["pip_partitioned.match_ratio"] = (pp_rows / pp_cand if pp_cand > 0 else 0.0, "ratio")
    out["pip_partitioned.shuffle_mb"] = (span_sum("pip_partitioned", "shuffle_mb"), "MB")
    out["radius.wall_s"] = (wall("radius"), "s")
    out["radius.candidates"] = (_sum_sql(sql_of("radius"), "number of output rows", _is_join), "count")

    # whole workload (timed spans only)
    for f, unit in SPARK_FIELDS.items():
        out[f"spark.{f}"] = (sum(span_sum(n, f) for n in TIMED_SPANS), unit)

    # tracing: the traced run's figures (walls included), their overhead
    # against the median of the untraced runs of this workload recorded in
    # the same checkout by the same commit on the same box, and the share
    # of the log's task time the spans account for
    for name in TRACED:
        val, unit = figures[name]
        base = [r[name] for r in untraced if name in r]
        out[f"trace.{name}"] = (val, unit)
        out[f"trace.overhead.{name}"] = (val - median(base) if base else 0.0, unit)
    out["trace.untraced_runs"] = (len(untraced), "count")
    # summed RSS of the process tree: per layer, not end to end, because
    # it does not repeat within a tenth between runs
    out["process.peak_rss_mb"] = (notes.get("peak_rss_mb", 0.0), "MB")
    # CPU of the JVM's JIT compiler threads in the timed spans, which the
    # *_cpu_s figures leave out (stats.tree_cpu)
    out["process.jit_s"] = (sum(s.get("jit_s", 0.0) for s in spans if s["name"] in TIMED_SPANS), "s")
    total = folded["total"]["task_s"]
    out["trace.attributed_frac"] = (folded["attributed_task_s"] / total if total else 1.0, "ratio")
    return out
