"""F1/F2/F3/F7: the rule engine as broadcast joins + one aggregation.

Reference semantics (src/rules.rs:264-310):

- per entity, scan its tags IN ORDER; each tag can match a rule three
  ways with priority Tag(kv) > Value > Key;
- the FIRST Tag match short-circuits; otherwise the first Value match
  beats every Key match; otherwise the first Key match wins;
- no match -> eval 0 ("no_rule", minzoom = maxzoom = leaf_zoom).

Relationally this is exactly ``min_by(eval_i, struct(match_type,
tag_pos))`` over the union of three broadcast equi-joins — priority
ordering replaces the imperative short-circuit, and the whole thing is
one shuffle (the groupBy on feature id), entirely JVM-side.

Zoom filtering (F3) is folded into the pyramid expansion: instead of
re-filtering every feature at each of ~8 zoom levels like the reference
(src/hilbert/content.rs:17-236), we explode each feature's even-zoom
visibility range once: ``explode(sequence(even_ceil(minzoom),
min(maxzoom, leaf_zoom), 2))`` — same result, one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..manifest import CompiledRules
from ..session import local_frame

EVAL_SCHEMA = (
    "eval_i int, rule string, layers array<string>, minzoom int, maxzoom int, "
    "include_kind string, include_keys array<string>"
)


def rules_to_dfs(spark: SparkSession, compiled: CompiledRules):
    """CompiledRules -> (evals_df, tag_df, value_df, key_df), broadcast-sized."""
    evals = local_frame(
        spark,
        [
            (i, name, layers, mn, mx, ik, iks)
            for i, (name, layers, mn, mx, ik, iks) in enumerate(compiled.evals)
        ],
        EVAL_SCHEMA,
    )
    tag_df = local_frame(spark, compiled.tag_matches, "k string, v string, eval_i int")
    value_df = local_frame(spark, compiled.value_matches, "v string, eval_i int")
    key_df = local_frame(spark, compiled.key_matches, "k string, eval_i int")
    return evals, tag_df, value_df, key_df


def include_evals(spark: SparkSession, compiled: CompiledRules) -> DataFrame:
    """eval_i -> (include_kind, include_keys): the broadcast side that
    render-feature builders join onto content rows before include_tags."""
    return local_frame(
        spark,
        [(i, e[4], e[5]) for i, e in enumerate(compiled.evals)],
        "eval_i int, include_kind string, include_keys array<string>",
    )


def evaluate_rules(
    features: DataFrame,
    compiled: CompiledRules,
    id_col: str = "feature_id",
    tags_col: str = "tags",
) -> DataFrame:
    """features(id, tags: array<struct<k,v>> | map<string,string>) ->
    + eval_i, rule, layers, minzoom, maxzoom, include_kind, include_keys.

    Tag ORDER matters for parity; map columns are converted via
    map_entries (Spark preserves insertion order for literal-built maps,
    but prefer array<struct> inputs when order is load-bearing).
    """
    spark = features.sparkSession
    evals, tag_df, value_df, key_df = rules_to_dfs(spark, compiled)

    tags_field = dict(features.dtypes)[tags_col]
    tags_arr = (
        F.map_entries(F.col(tags_col)) if tags_field.startswith("map") else F.col(tags_col)
    )
    exploded = features.select(
        F.col(id_col).alias("_fid"), F.posexplode(tags_arr).alias("_pos", "_tag")
    ).select(
        "_fid",
        "_pos",
        F.col("_tag").getField("key").alias("k"),
        F.col("_tag").getField("value").alias("v"),
    )

    tag_hits = exploded.join(F.broadcast(tag_df), ["k", "v"]).select(
        "_fid", "_pos", F.lit(0).alias("match_type"), "eval_i"
    )
    value_hits = exploded.join(F.broadcast(value_df), ["v"]).select(
        "_fid", "_pos", F.lit(1).alias("match_type"), "eval_i"
    )
    key_hits = exploded.join(F.broadcast(key_df), ["k"]).select(
        "_fid", "_pos", F.lit(2).alias("match_type"), "eval_i"
    )

    winners = (
        tag_hits.unionByName(value_hits)
        .unionByName(key_hits)
        .groupBy("_fid")
        .agg(F.min_by("eval_i", F.struct("match_type", "_pos")).alias("eval_i"))
    )

    out = features.join(winners, features[id_col] == winners["_fid"], "left").drop("_fid")
    out = out.withColumn("eval_i", F.coalesce(F.col("eval_i"), F.lit(0)))
    return out.join(F.broadcast(evals), "eval_i", "left")


_SEP = "\x00"  # separator for the tag-match key (no NUL in real tags)


def _str_array_literal(items):
    if not items:
        return F.expr("cast(array() as array<string>)")
    return F.array(*[F.lit(x) for x in items])



def _map_literal(pairs: dict[str, int]):
    args = []
    for k, v in sorted(pairs.items()):
        args.extend([F.lit(k), F.lit(v)])
    if not args:
        return F.expr("cast(map() as map<string,int>)")
    return F.create_map(*args)


def evaluate_rules_inline(
    features: DataFrame,
    compiled: CompiledRules,
    tags_col: str = "tags",
) -> DataFrame:
    """F2 as a PURE per-row expression — no explode, no shuffle, no join.

    Rule tables become literal MAP expressions (rule sets are small:
    tens to hundreds of entries) and the precedence scan is a left fold
    over the tag array: per tag the candidate is the best of
    Tag(0)/Value(1)/Key(2) lookups, and the fold keeps the lowest
    match-type seen first — identical to the reference's scan
    (src/rules.rs:264-310) and to the min_by formulation in
    ``evaluate_rules`` (property-tested equivalent), but entirely
    inside whole-stage codegen. Eval metadata (minzoom/maxzoom/layers/
    include) is likewise a literal array indexed by the winning eval.
    """
    tag_map = _map_literal({f"{k}{_SEP}{v}": i for k, v, i in compiled.tag_matches})
    value_map = _map_literal({v: i for v, i in compiled.value_matches})
    key_map = _map_literal({k: i for k, i in compiled.key_matches})

    tags_field = dict(features.dtypes)[tags_col]
    tags_arr = (
        F.map_entries(F.col(tags_col)) if tags_field.startswith("map") else F.col(tags_col)
    )

    zero = F.struct(F.lit(3).alias("mtype"), F.lit(0).alias("eval_i"))

    def step(acc, t):
        te = F.element_at(tag_map, F.concat(t["key"], F.lit(_SEP), t["value"]))
        ve = F.element_at(value_map, t["value"])
        ke = F.element_at(key_map, t["key"])
        cand = (
            F.when(te.isNotNull(), F.struct(F.lit(0).alias("mtype"), te.alias("eval_i")))
            .when(ve.isNotNull(), F.struct(F.lit(1).alias("mtype"), ve.alias("eval_i")))
            .when(ke.isNotNull(), F.struct(F.lit(2).alias("mtype"), ke.alias("eval_i")))
            .otherwise(F.struct(F.lit(3).alias("mtype"), F.lit(0).alias("eval_i")))
        )
        return F.when(cand["mtype"] < acc["mtype"], cand).otherwise(acc)

    folded = F.aggregate(tags_arr, zero, step)

    # eval metadata as literal arrays indexed by eval_i (1-based element_at)
    meta_arr = F.array(
        *[
            F.struct(
                F.lit(name).alias("rule"),
                _str_array_literal(layers).alias("layers"),
                F.lit(mn).alias("minzoom"),
                F.lit(mx).alias("maxzoom"),
                F.lit(ik).alias("include_kind"),
                _str_array_literal(iks).alias("include_keys"),
            )
            for (name, layers, mn, mx, ik, iks) in compiled.evals
        ]
    )
    # ONE-SHOT evaluation barrier. Emitting the 7 output columns as
    # separate expressions re-evaluates the fold per column — and worse,
    # per EXPLODED row once visible_zooms runs (measured 10x the cost of
    # fold + explode separately). The fold binds ONCE inside a
    # single-element transform lambda; the combined struct lands in one
    # projection whose attribute is non-cheap and multiply-referenced,
    # which CollapseProject will not inline — so downstream columns are
    # plain field extractions.
    combo = F.element_at(
        F.transform(
            F.array(folded),
            lambda w: F.struct(
                w["eval_i"].alias("eval_i"),
                F.element_at(meta_arr, w["eval_i"] + 1).alias("m"),
            ),
        ),
        1,
    )
    return features.withColumn("_ev", combo).select(
        *[F.col(c) for c in features.columns],
        F.col("_ev.eval_i").alias("eval_i"),
        F.col("_ev.m.rule").alias("rule"),
        F.col("_ev.m.layers").alias("layers"),
        F.col("_ev.m.minzoom").alias("minzoom"),
        F.col("_ev.m.maxzoom").alias("maxzoom"),
        F.col("_ev.m.include_kind").alias("include_kind"),
        F.col("_ev.m.include_keys").alias("include_keys"),
    )


def visible_zooms(df: DataFrame, leaf_zoom: int) -> DataFrame:
    """F3 as a single explode: one row per (feature, even zoom) where the
    winning rule's [minzoom, maxzoom] covers the zoom.

    even_ceil(minzoom) = minzoom + (minzoom % 2); upper = min(maxzoom,
    leaf_zoom). Features whose range covers no even zoom disappear.
    """
    lo = F.col("minzoom") + (F.col("minzoom") % 2)
    hi = F.least(F.col("maxzoom"), F.lit(leaf_zoom))
    return df.where(lo <= hi).withColumn(
        "zoom", F.explode(F.sequence(lo, hi, F.lit(2)))
    )


def include_tags(df: DataFrame, tags_col: str = "tags", all_tags: bool = False) -> DataFrame:
    """F7: per winning rule, project the feature's tags to None / All /
    listed keys (reference src/hilbert/compose.rs:352-416). Adds
    ``out_tags`` map plus injected rule/osm_id attrs when all_tags."""
    tags_field = dict(df.dtypes)[tags_col]
    tags_map = (
        F.col(tags_col)
        if tags_field.startswith("map")
        else F.map_from_entries(F.col(tags_col))
    )
    if all_tags:
        kept = tags_map
    else:
        kept = (
            F.when(F.col("include_kind") == "all", tags_map)
            .when(
                F.col("include_kind") == "keys",
                F.map_filter(
                    tags_map, lambda k, _: F.array_contains(F.col("include_keys"), k)
                ),
            )
            .otherwise(F.map_from_arrays(F.array(), F.array()))
        )
    return df.withColumn("out_tags", kept)
