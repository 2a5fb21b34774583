"""Distributed exact quantiles and order statistics.

``group_quantiles`` computes EXACT discrete quantiles per group without
ever sorting the raw rows: it reduces the data to a (group, value)
histogram first (one full shuffle with map-side partial aggregation),
then runs the cumulative scan and rank probe over the histogram, which
is smaller than the input by the value-duplication factor. For
bounded-cardinality values (document lengths, token counts, scores in
milli) the histogram is thousands of rows per group at ANY corpus
size, so the per-group window scan is trivially cheap — the one full
shuffle is the groupBy, and partials shrink it map-side.

This beats the two obvious formulations at scale:
- ``window row_number per group over raw rows`` puts every raw row of
  a group through one reducer — a single hot partition per group at
  10^12 rows;
- ``percentile()`` aggregates buffer every raw value per group in
  executor memory.

For genuinely unbounded value domains (raw doubles), quantize to a
fixed grid first (milli units) or fall back to percentile_approx —
the histogram contract is the documented boundary.

Discrete quantile semantics: value at rank ``ceil(q * n)`` in the
ascending sort, q in milli (q_milli=500 -> median-low). Integer-exact:
rank = (q_milli * n + 999) div 1000; the selected value is the
smallest v whose cumulative count reaches the rank. No interpolation —
every reported value occurs in the data, and the same arithmetic runs
verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def group_quantiles(
    df: DataFrame,
    key: str,
    value: str,
    qs_milli: list[int],
) -> DataFrame:
    """Exact per-``key`` discrete quantiles of ``value``.

    Returns (key, q_milli, value) — one row per (group, requested
    quantile), value = the group's element at rank ceil(q*n) ascending.
    ``qs_milli`` entries must be in [1, 1000]. NULL values are excluded
    (SQL aggregate convention): they count toward no rank and are never
    returned; a group whose values are all NULL produces no rows.
    """
    if not qs_milli or any(not (1 <= q <= 1000) for q in qs_milli):
        raise ValueError("qs_milli must be non-empty, each in [1, 1000]")
    # quantiles are over NON-NULL values (SQL aggregate convention);
    # keeping NULLs would both count them in n and sort them first
    # (Spark ASC = NULLS FIRST), silently returning NULL for low ranks
    df = df.where(F.col(value).isNotNull())
    hist = df.groupBy(key, value).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy(key)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    # group totals come from the histogram, not a second corpus scan —
    # the input is read and shuffled exactly once (the histogram groupBy)
    totals = hist.groupBy(key).agg(F.sum("cnt").alias("n"))
    qdf = local_frame(
        totals.sparkSession,
        [(int(q),) for q in sorted(set(qs_milli))],
        "q_milli long",
    )
    ranks = totals.crossJoin(F.broadcast(qdf)).withColumn(
        "rank", F.expr("(q_milli * n + 999) div 1000")
    )
    # the rank falls inside exactly one histogram row: the first whose
    # cumulative count reaches it — an equi-join on key plus two residual
    # inequalities, never a per-rank scan
    return (
        cum.join(ranks, key)
        .where((F.col("cum") >= F.col("rank")) & (F.col("cum") - F.col("cnt") < F.col("rank")))
        .select(key, "q_milli", F.col(value).alias("value"))
    )


def topk_per_group(
    df: DataFrame,
    key: str,
    order: str,
    tie: str,
    k: int,
    n_salts: int = 64,
) -> DataFrame:
    """Exact top-k rows per group by (``order`` DESC, ``tie`` ASC) —
    without the per-group single-reducer that ``row_number() over
    (partition by key)`` schedules at corpus scale.

    Two-phase salted selection: phase 1 groups by (key, salt) — salt =
    hash(tie) mod n_salts — and keeps each salted slice's local top-k
    (collect_list buffers only that slice, ~group/n_salts rows); phase 2
    merges the n_salts candidate lists per key (<= n_salts * k rows,
    k-independent of the group size) and re-slices. Both aggregations
    partial-combine map-side. A group's hottest path therefore buffers
    O(group/n_salts) rows instead of streaming the whole group through
    one task — pick n_salts ~ cluster parallelism for planet-hot keys.

    ``order`` must be a non-minimal bigint (ranking uses the -order
    ascending-struct-sort trick; LONG_MIN would overflow the negation).
    ``tie`` must be unique within a group for a deterministic result.
    Returns (key, rank, order, tie) with rank 1..k; groups smaller than
    k emit all their rows.
    """
    if k <= 0 or n_salts <= 0:
        raise ValueError("k and n_salts must be positive")
    neg = (-F.col(order)).alias("_neg")
    item = F.struct(neg, F.col(tie).alias("_tie"))
    salt = F.pmod(F.hash(F.col(tie)), F.lit(int(n_salts)))
    local = (
        df.groupBy(F.col(key), salt.alias("_salt"))
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("_part"))
    )
    merged = local.groupBy(key).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("_part"))), 1, k).alias("_top")
    )
    return merged.select(
        key, F.posexplode("_top").alias("_pos", "_item")
    ).select(
        key,
        (F.col("_pos") + 1).alias("rank"),
        (-F.col("_item._neg")).alias(order),
        F.col("_item._tie").alias(tie),
    )
