"""Query registry: every operator from SURVEY.md §2 as a (Spark, oracle-SQL)
pair over the driver's testdata tables.

Each entry: name -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Oracle SQL runs on DuckDB over the same parquet files; the driver compares
row count + schema + order-insensitive value hash, so:

- every computed column is aliased IDENTICALLY on both sides;
- aggregates avoid raw float sums (addition-order nondeterminism):
  money/measures go through ``cast(round(x*100) as bigint)`` cents or
  integer quantization so sums are EXACT in any order;
- ties in top-k/rank are always broken by a unique key.

Geospatial queries that need the Hilbert kernel (not SQL-expressible)
have oracle None -> driver records a rows-only check; their correctness
is pinned by the golden tests in tests/ instead.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names]


# ---------------------------------------------------------------------------
# Relational building blocks (SURVEY §2.4 joins, §2.5 aggs, §2.8 windows)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A8 analog: grouped aggregation with exact cent arithmetic."""
    (li,) = load(spark, sf_dir, "lineitem")
    cents = lambda c: F.round(c * 100).cast("long")  # noqa: E731
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(
                F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast(
                    "long"
                )
            ).alias("sum_disc_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       cast(sum(cast(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       cast(sum(cast(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 equi-join chain + top-k with deterministic tiebreak."""
    cust, orders, li = load(spark, sf_dir, "customer", "orders", "lineitem")
    rev = F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast("long")
    return (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), "o_orderkey")
        .limit(10)
    )


Q02_SQL = """
SELECT o_orderkey, o_orderdate,
       cast(sum(cast(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue_cents DESC, o_orderkey LIMIT 10
"""


def q03_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 analog: multi-way dim join (broadcast dims) + agg."""
    cust, orders, nation, region = load(spark, sf_dir, "customer", "orders", "nation", "region")
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
        .orderBy("r_name", "n_name")
    )


Q03_SQL = """
SELECT r_name, n_name, count(*) AS order_count,
       cast(sum(cast(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
"""


def q04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 analog: existence semi-join -> per-priority counts."""
    orders, li = load(spark, sf_dir, "orders", "lineitem")
    discounted = li.where(F.col("l_discount") >= 0.05).select("l_orderkey").distinct()
    return (
        orders.join(discounted, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q04_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem WHERE l_discount >= 0.05)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q05_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no orders, per market segment."""
    cust, orders = load(spark, sf_dir, "customer", "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("customer_count"))
        .orderBy("c_mktsegment")
    )


Q05_SQL = """
SELECT c_mktsegment, count(*) AS customer_count
FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q06_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: rank per partition with unique-key tiebreak (kNN pattern)."""
    from pyspark.sql.window import Window

    (orders,) = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "rn")
        .orderBy("o_custkey", "rn")
    )


Q06_SQL = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn
"""


def q07_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: running per-user totals in exact cents (O2 cursor analog)."""
    from pyspark.sql.window import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("value_cents", F.round(F.col("value") * 100).cast("long"))
        .withColumn("running_cents", F.sum("value_cents").over(w))
        .withColumn("seq", F.row_number().over(w))
        .select("user_id", "event_id", "seq", "running_cents")
        .orderBy("user_id", "seq")
    )


Q07_SQL = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
       cast(sum(cast(round(value*100) AS BIGINT))
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
FROM events ORDER BY user_id, seq
"""


def q08_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative flag sum), 30-min gap."""
    from pyspark.sql.window import Window

    (events,) = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    flagged = events.withColumn(
        "new_session",
        F.when(epoch - F.lag(epoch).over(w) > 1800, 1).otherwise(
            F.when(F.lag(epoch).over(w).isNull(), 1).otherwise(0)
        ),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(w))
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("session_count"),
            F.count(F.lit(1)).alias("event_count"),
        )
        .orderBy("user_id")
    )


Q08_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(epoch(ts)) OVER w IS NULL THEN 1
              WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1
              ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id,
         cast(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM flagged)
SELECT user_id, cast(max(session_id) AS BIGINT) AS session_count, count(*) AS event_count
FROM sess GROUP BY user_id ORDER BY user_id
"""


def q09_bitmask_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 analog on plain ints: parent key + bit_or child-existence mask."""
    (orders,) = load(spark, sf_dir, "orders")
    return (
        orders.select(
            F.shiftrightunsigned(F.col("o_orderkey"), 4).alias("parent_key"),
            F.expr("shiftleft(1, cast(o_orderkey & 15 as int))").alias("mask_bit"),
        )
        .groupBy("parent_key")
        .agg(
            F.expr("bit_or(mask_bit)").alias("child_mask"),
            F.count(F.lit(1)).alias("child_rows"),
        )
        .orderBy("parent_key")
    )


Q09_SQL = """
SELECT o_orderkey >> 4 AS parent_key,
       bit_or(1 << cast(o_orderkey & 15 AS INT)) AS child_mask,
       count(*) AS child_rows
FROM orders GROUP BY parent_key ORDER BY parent_key
"""


def q10_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/set-op analog: parts never ordered (EXCEPT)."""
    part, li = load(spark, sf_dir, "part", "lineitem")
    return (
        part.select("p_partkey")
        .exceptAll(li.select(F.col("l_partkey").alias("p_partkey")).distinct())
        .orderBy("p_partkey")
    )


Q10_SQL = """
SELECT p_partkey FROM part
EXCEPT SELECT DISTINCT l_partkey AS p_partkey FROM lineitem
ORDER BY p_partkey
"""


# ---------------------------------------------------------------------------
# Geospatial (exact integer arithmetic so the SQL oracle is bit-exact;
# the Hilbert-curve variants of these are covered by golden tests and the
# rows-only engine queries below)
# ---------------------------------------------------------------------------

# deterministic synthetic dm7 coords from customer keys (pure int math)
_SYNTH_LON = "((c_custkey * 2654435761) % 3600000000 + 3600000000) % 3600000000 - 1800000000"
_SYNTH_LAT = "((c_custkey * 2246822519) % 1700000000 + 1700000000) % 1700000000 - 850000000"


def _synth_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = load(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("feature_id"),
        F.expr(_SYNTH_LON).alias("lon_dm7"),
        F.expr(_SYNTH_LAT).alias("lat_dm7"),
    )


def q11_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 analog: per-tile feature counts on an exact equirectangular grid
    (4096x4096 = 'zoom 12'); integer division keeps the oracle bit-exact."""
    pts = _synth_points(spark, sf_dir)
    return (
        pts.withColumn(
            "tile_x", F.expr("(cast(lon_dm7 as bigint) + 1800000000) * 4096 div 3600000000")
        )
        .withColumn(
            "tile_y", F.expr("(cast(lat_dm7 as bigint) + 850000000) * 4096 div 1700000000")
        )
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("feature_count"))
        .orderBy("tile_x", "tile_y")
    )


Q11_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS feature_id,
         {_SYNTH_LON} AS lon_dm7,
         {_SYNTH_LAT} AS lat_dm7
  FROM customer)
SELECT (lon_dm7 + 1800000000) * 4096 // 3600000000 AS tile_x,
       (lat_dm7 + 850000000) * 4096 // 1700000000 AS tile_y,
       count(*) AS feature_count
FROM pts GROUP BY tile_x, tile_y ORDER BY tile_x, tile_y
"""


# q12 runs the PRODUCTION knn_per_tile operator (exploded probe rings,
# ring-radius exactness guarantee, escalation passes). Coordinates are
# integer u32-grid cells clustered in a 2^24-unit region (16x16 z12
# tiles): every squared distance stays < 2^53, so the operator's double
# arithmetic is exact and the integer-math DuckDB oracle is bit-equal.
_Q12_GX = "2000000000 + ({key} * 2654435761) % 16777216"
_Q12_GY = "2000000000 + ({key} * 2246822519) % 16777216"


def q12_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW-J10 via the real operator: k=3 neighbors for 5 query points."""
    from .functions.geo import xy_to_hilbert_h
    from .operators.knn import knn_per_tile

    (cust,) = load(spark, sf_dir, "customer")
    all_pts = cust.select(
        F.col("c_custkey").alias("feature_id"),
        F.expr(_Q12_GX.format(key="c_custkey")).alias("gx"),
        F.expr(_Q12_GY.format(key="c_custkey")).alias("gy"),
    ).withColumn("h", xy_to_hilbert_h(F.col("gx"), F.col("gy")))
    points = all_pts.where(F.col("feature_id") > 5)
    queries = all_pts.where(F.col("feature_id") <= 5).select(
        F.col("feature_id").alias("query_id"), "gx", "gy", "h"
    )
    out = knn_per_tile(
        points, queries, k=3, zoom=12, grid_cols=("gx", "gy"), n_queries=5
    )
    return out.select(
        "query_id", "neighbor_id", "rank", F.col("d2").cast("long").alias("d2")
    ).orderBy("query_id", "rank")


Q12_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS feature_id,
         {_Q12_GX.format(key="c_custkey")} AS gx,
         {_Q12_GY.format(key="c_custkey")} AS gy
  FROM customer),
queries AS (
  SELECT feature_id AS query_id, gx AS qx, gy AS qy FROM pts WHERE feature_id <= 5),
cand AS (
  SELECT q.query_id, p.feature_id AS neighbor_id,
         (p.gx - q.qx)*(p.gx - q.qx) + (p.gy - q.qy)*(p.gy - q.qy) AS d2
  FROM queries q JOIN pts p ON p.feature_id > 5),
ranked AS (
  SELECT query_id, neighbor_id, d2,
         row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, neighbor_id ASC) AS rank
  FROM cand)
SELECT query_id, neighbor_id, rank, CAST(d2 AS BIGINT) AS d2 FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
"""


def _q13_inputs(spark: SparkSession, sf_dir: str):
    """(points, polygons) shared by q13 (broadcast) and q34 (partitioned):
    synthetic customer points x admin rectangles derived from nation keys."""
    from .functions.geo import hilbert_h

    pts = _synth_points(spark, sf_dir).withColumn(
        "h", hilbert_h(F.col("lon_dm7"), F.col("lat_dm7"))
    )
    (nation,) = load(spark, sf_dir, "nation")
    rects = nation.select(
        F.col("n_nationkey").cast("long").alias("admin_id"),
        "n_name",
        (F.col("n_nationkey").cast("long") % 5 * 720000000 - 1800000000).alias("west"),
        (F.col("n_nationkey").cast("long") % 5 * 720000000 - 1440000000).alias("east"),
        (F.col("n_nationkey").cast("long") / 5).cast("long").alias("_row"),
    ).select(
        "admin_id",
        "n_name",
        "west",
        "east",
        (F.col("_row") * 340000000 - 850000000).alias("south"),
        (F.col("_row") * 340000000 - 510000000).alias("north"),
    )
    ring = F.array(
        F.struct(F.col("west").cast("int").alias("lon_dm7"), F.col("south").cast("int").alias("lat_dm7")),
        F.struct(F.col("east").cast("int").alias("lon_dm7"), F.col("south").cast("int").alias("lat_dm7")),
        F.struct(F.col("east").cast("int").alias("lon_dm7"), F.col("north").cast("int").alias("lat_dm7")),
        F.struct(F.col("west").cast("int").alias("lon_dm7"), F.col("north").cast("int").alias("lat_dm7")),
        F.struct(F.col("west").cast("int").alias("lon_dm7"), F.col("south").cast("int").alias("lat_dm7")),
    )
    polys = rects.select("admin_id", "n_name", F.array(ring).alias("rings"))
    return pts, polys


def _q13_aggregate(matched: DataFrame) -> DataFrame:
    return (
        matched.groupBy(F.col("admin_id").alias("n_nationkey"), "n_name")
        .agg(F.count(F.lit(1)).alias("point_count"))
        .orderBy("n_nationkey")
    )


def q13_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW-J9 via the PRODUCTION operator: point_in_polygon_join
    (scanline cover-tile prune + vectorized even-odd ray-cast) against
    admin rectangles derived from nation keys. On axis-aligned rings the
    even-odd rule yields exactly the half-open [west,east) x
    [south,north) containment the integer SQL oracle computes."""
    from .operators.pip import point_in_polygon_join

    pts, polys = _q13_inputs(spark, sf_dir)
    return _q13_aggregate(point_in_polygon_join(pts, polys, cover_zoom=6))


def q34_pip_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW-J9 beyond the broadcast contract: the SAME containment as q13
    through point_in_polygon_join_partitioned — polygons stay a
    DataFrame (distributed h-interval cover, shuffle equi-join on the
    key tile with the h range in its condition, cogroup ray-cast in
    groups sized from each polygon's extent; no collect(), no driver
    loop), so
    the polygon side has no broadcast ceiling. Oracle: identical SQL
    to q13 — both paths must produce the same pairs."""
    from .operators.pip import point_in_polygon_join

    pts, polys = _q13_inputs(spark, sf_dir)
    return _q13_aggregate(
        point_in_polygon_join(pts, polys, cover_zoom=6, strategy="partitioned")
    )


# integer twice-signed-area (shoelace) over a geom_x/geom_y row — exact,
# so the DuckDB oracle can pin ring orientation bit-for-bit
_SHOELACE = (
    "aggregate(sequence(1, size(geom_x) - 1), 0L, (acc, i) -> "
    "acc + element_at(geom_x, i) * element_at(geom_y, i + 1) "
    "- element_at(geom_x, i + 1) * element_at(geom_y, i))"
)


def q35_relation_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation multipolygon assembly via the PRODUCTION operator
    (relation_ring_geometry, pvt_spark/operators/feature_h.py): per
    nation key k, four member ways — two open chains that must stitch
    into the outer square, a closed hole way inside it, and a dangling
    open way — flow through the distributed explode + equi-join +
    sorted-mapInPandas assembly. Output per assembled ring/line:
    vertex count, integer shoelace area2 (pins P15 winding
    normalization: outer positive, hole REVERSED to negative), and the
    second vertex x (pins the exact vertex order, including the hole's
    reversal). The oracle reproduces all three rows per relation in
    closed form — assembly, orientation and stitch order are fully
    determined by the construction."""
    from .operators.feature_h import relation_ring_geometry

    (nation,) = load(spark, sf_dir, "nation")
    base = nation.selectExpr("cast(n_nationkey as bigint) as k")
    b = "k * 1000000"

    def mk(off: int, xs: str, ys: str) -> DataFrame:
        return base.selectExpr(
            f"k * 10 + {off} as feature_id",
            f"array({xs}) as geom_x",
            f"array({ys}) as geom_y",
        )

    ways = (
        # open chain A: (b,b) -> (b+s,b) -> (b+s,b+s)
        mk(1, f"{b}, {b} + 100000, {b} + 100000", f"{b}, {b}, {b} + 100000")
        # open chain B continues to close the square
        .unionByName(
            mk(2, f"{b} + 100000, {b}, {b}", f"{b} + 100000, {b} + 100000, {b}")
        )
        # closed hole way, positive (outer-like) winding — must be flipped
        .unionByName(
            mk(
                3,
                f"{b} + 40000, {b} + 60000, {b} + 60000, {b} + 40000, {b} + 40000",
                f"{b} + 40000, {b} + 40000, {b} + 60000, {b} + 60000, {b} + 40000",
            )
        )
        # dangling open way -> renders as a line
        .unionByName(mk(4, f"{b} + 200000, {b} + 210000", f"{b}, {b}"))
    )
    rels = base.selectExpr(
        "k as feature_id",
        "array(named_struct('etype', 'w', 'ref', k * 10 + 1),"
        " named_struct('etype', 'w', 'ref', k * 10 + 2),"
        " named_struct('etype', 'w', 'ref', k * 10 + 3),"
        " named_struct('etype', 'w', 'ref', k * 10 + 4)) as members",
        "k as h",
    )
    out = relation_ring_geometry(rels, ways)
    return out.select(
        "feature_id",
        F.size("geom_x").alias("n_pts"),
        F.expr(_SHOELACE).alias("area2"),
        F.element_at("geom_x", 2).alias("second_x"),
    ).orderBy("feature_id", "n_pts", "area2", "second_x")


Q35_SQL = """
WITH ks AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
rows AS (
  -- outer square (stitched A+B), kept positive: area2 = 2 * 100000^2
  SELECT k AS feature_id, 5 AS n_pts, CAST(20000000000 AS BIGINT) AS area2,
         k * 1000000 + 100000 AS second_x
  FROM ks
  UNION ALL
  -- hole (side 20000), REVERSED to negative; reversal makes the second
  -- vertex the one at x = b + 40000
  SELECT k, 5, CAST(-800000000 AS BIGINT), k * 1000000 + 40000 FROM ks
  UNION ALL
  -- dangling line, original orientation: area2 = -10000 * b
  SELECT k, 2, CAST(-10000000000 AS BIGINT) * k, k * 1000000 + 210000 FROM ks)
SELECT feature_id, n_pts, area2, second_x
FROM rows ORDER BY feature_id, n_pts, area2, second_x
"""


Q13_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS feature_id,
         {_SYNTH_LON} AS lon_dm7,
         {_SYNTH_LAT} AS lat_dm7
  FROM customer),
rects AS (
  SELECT n_nationkey, n_name,
         (n_nationkey::BIGINT % 5) * 720000000 - 1800000000 AS west,
         (n_nationkey::BIGINT % 5) * 720000000 - 1440000000 AS east,
         (n_nationkey::BIGINT // 5) * 340000000 - 850000000 AS south,
         (n_nationkey::BIGINT // 5) * 340000000 - 510000000 AS north
  FROM nation)
SELECT n_nationkey, n_name, count(*) AS point_count
FROM pts JOIN rects
  ON lon_dm7 >= west AND lon_dm7 < east AND lat_dm7 >= south AND lat_dm7 < north
GROUP BY n_nationkey, n_name ORDER BY n_nationkey
"""


# ---------------------------------------------------------------------------
# Training-data pipeline ops over `documents` (dedup / text analysis)
# ---------------------------------------------------------------------------


def q14_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: duplicate clusters."""
    (docs,) = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keeper_id"))
        .where(F.col("dup_count") > 1)
        .orderBy("text_hash")
    )


Q14_SQL = """
SELECT md5(text) AS text_hash, count(*) AS dup_count, min(doc_id) AS keeper_id
FROM documents GROUP BY text_hash HAVING count(*) > 1 ORDER BY text_hash
"""


def q15_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace), per-doc exact integer stats."""
    (docs,) = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.expr(
            "aggregate(split(text, ' '), 0L, (acc, t) -> acc + length(t))"
        ).alias("sum_token_len"),
    ).orderBy("doc_id")


Q15_SQL = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       length(text) AS n_chars_actual,
       cast(list_sum(list_transform(string_split(text, ' '), t -> length(t))) AS BIGINT) AS sum_token_len
FROM documents ORDER BY doc_id
"""


def q16_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword + unique-token ratios in exact milli units."""
    (docs,) = load(spark, sf_dir, "documents")
    stop = "('the','a','of','to','and','in')"
    return docs.select(
        "doc_id",
        F.expr(f"""
          size(filter(split(text,' '), t -> t IN {stop})) * 1000
            div size(split(text,' '))""").alias("stopword_milli"),
        F.expr("""
          size(array_distinct(split(text,' '))) * 1000
            div size(split(text,' '))""").alias("unique_milli"),
    ).orderBy("doc_id")


Q16_SQL = f"""
SELECT doc_id,
       len(list_filter(string_split(text,' '), t -> t IN ('the','a','of','to','and','in'))) * 1000
         // len(string_split(text,' ')) AS stopword_milli,
       len(list_distinct(string_split(text,' '))) * 1000
         // len(string_split(text,' ')) AS unique_milli
FROM documents ORDER BY doc_id
"""


def q17_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-family vote (en/de/fr), ties -> und."""
    (docs,) = load(spark, sf_dir, "documents")
    en = "size(filter(split(text,' '), t -> t IN ('the','a','and','of')))"
    de = "size(filter(split(text,' '), t -> t IN ('der','die','das','und')))"
    fr = "size(filter(split(text,' '), t -> t IN ('le','la','et','des')))"
    return docs.select(
        "doc_id",
        F.expr(
            f"CASE WHEN {en} > {de} AND {en} > {fr} THEN 'en' "
            f"WHEN {de} > {en} AND {de} > {fr} THEN 'de' "
            f"WHEN {fr} > {en} AND {fr} > {de} THEN 'fr' ELSE 'und' END"
        ).alias("pred_lang"),
    ).orderBy("doc_id")


_D_EN = "len(list_filter(string_split(text,' '), t -> t IN ('the','a','and','of')))"
_D_DE = "len(list_filter(string_split(text,' '), t -> t IN ('der','die','das','und')))"
_D_FR = "len(list_filter(string_split(text,' '), t -> t IN ('le','la','et','des')))"
Q17_SQL = f"""
SELECT doc_id,
       CASE WHEN {_D_EN} > {_D_DE} AND {_D_EN} > {_D_FR} THEN 'en'
            WHEN {_D_DE} > {_D_EN} AND {_D_DE} > {_D_FR} THEN 'de'
            WHEN {_D_FR} > {_D_EN} AND {_D_FR} > {_D_DE} THEN 'fr'
            ELSE 'und' END AS pred_lang
FROM documents ORDER BY doc_id
"""


def q18_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias(
            "fingerprint"
        ),
    ).orderBy("doc_id")


Q18_SQL = r"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
FROM documents ORDER BY doc_id
"""


def _shingles_expr_spark() -> str:
    # word 3-gram shingles, distinct. The word array binds ONCE under a
    # single-element transform (the engine's standard evaluation
    # barrier): the naive form re-ran split(text) for every word slot of
    # every shingle position — O(len^2) per document. Identical output:
    # concat_ws over slice == concat_ws over the element_at triple
    # (split yields no NULLs).
    return (
        "element_at(transform(array(split(text,' ')), w -> "
        "array_distinct(transform(sequence(1, greatest(size(w) - 2, 0)), "
        "i -> concat_ws(' ', slice(w, i, 3))))), 1)"
    )


_SHINGLES_DUCK = (
    "list_distinct([array_to_string(string_split(text,' ')[i:i+2], ' ') "
    "for i in range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1)])"
)


# document-frequency cap: shingles appearing in more docs are dropped
# BEFORE the self-join (standard df-capping) — one hot shingle ("of the
# and") would otherwise explode the join quadratically at corpus scale.
# Jaccard is computed over the capped shingle universe on BOTH sides.
_Q19_DF_CAP = 50


def q19_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard >= 0.5 over df-capped
    shingles, exact milli units."""
    (docs,) = load(spark, sf_dir, "documents")
    sh_all = docs.select(
        "doc_id", F.explode(F.expr(_shingles_expr_spark())).alias("shingle")
    )
    rare = (
        sh_all.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _Q19_DF_CAP)
        .select("shingle")
    )
    sh = sh_all.join(rare, "shingle")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn("jaccard_milli", F.expr("inter * 1000 div (na + nb - inter)"))
        .where(F.col("jaccard_milli") >= 500)
        .select("doc_a", "doc_b", "inter", "jaccard_milli")
        .orderBy("doc_a", "doc_b")
    )
    return out


Q19_SQL = f"""
WITH sh_all AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents),
rare AS (
  SELECT shingle FROM sh_all GROUP BY shingle HAVING count(*) <= {_Q19_DF_CAP}),
sh AS (SELECT doc_id, sh_all.shingle FROM sh_all JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b)
SELECT doc_a, doc_b, inter,
       inter * 1000 // (na + nb - inter) AS jaccard_milli
FROM pairs
JOIN (SELECT doc_id AS doc_a, n_shingles AS na FROM sizes) USING (doc_a)
JOIN (SELECT doc_id AS doc_b, n_shingles AS nb FROM sizes) USING (doc_b)
WHERE inter * 1000 // (na + nb - inter) >= 500
ORDER BY doc_a, doc_b
"""


def q20_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 perms) over word-3-gram shingles.

    Shingle -> 56-bit int via md5 prefix (identical hex parse in both
    engines); perm_i(x) = (a_i*x + b_i) mod p with small a_i so the
    product stays in int64.
    """
    (docs,) = load(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.explode(F.expr(_shingles_expr_spark())).alias("shingle"))
    # hash each shingle ONCE below the aggregate: the 8 permutation
    # aggregates would otherwise each embed (and re-evaluate) the
    # md5+hex-parse per row; the multiply-referenced non-cheap projection
    # is kept by CollapseProject, so md5 runs once per shingle
    x = "cast(conv(substring(md5(shingle), 1, 14), 16, 10) as bigint)"
    hashed = sh.select("doc_id", F.expr(x).alias("x"))
    p = 1_152_921_504_606_846_989  # prime < 2^60
    aggs = [
        F.min(F.expr(f"(({a} * x) % {p} + {a * 7919}) % {p}")).alias(f"mh{a}")
        for a in range(1, 9)
    ]
    return hashed.groupBy("doc_id").agg(*aggs).orderBy("doc_id")


_DX = "('0x' || substring(md5(shingle), 1, 14))::BIGINT"
Q20_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents)
SELECT doc_id,
  {', '.join(f'min((({a} * {_DX}) % 1152921504606846989 + {a * 7919}) % 1152921504606846989) AS mh{a}' for a in range(1, 9))}
FROM sh GROUP BY doc_id ORDER BY doc_id
"""


def q21_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH banding: 4 bands x 2 rows -> bucket ids; candidate pairs
    are docs sharing a (band, bucket)."""
    mh = q20_minhash(spark, sf_dir)
    bands = []
    for b in range(4):
        bands.append(
            mh.select(
                "doc_id",
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", f"mh{2*b+1}", f"mh{2*b+2}")).alias("bucket"),
            )
        )
    from functools import reduce

    allb = reduce(DataFrame.unionByName, bands)
    return (
        allb.alias("x")
        .join(
            allb.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


Q21_SQL = f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents),
mh AS (
  SELECT doc_id,
    {', '.join(f'min((({a} * {_DX}) % 1152921504606846989 + {a * 7919}) % 1152921504606846989) AS mh{a}' for a in range(1, 9))}
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh1::VARCHAR || '_' || mh2::VARCHAR) AS bucket FROM mh
  UNION ALL SELECT doc_id, 1, md5(mh3::VARCHAR || '_' || mh4::VARCHAR) FROM mh
  UNION ALL SELECT doc_id, 2, md5(mh5::VARCHAR || '_' || mh6::VARCHAR) FROM mh
  UNION ALL SELECT doc_id, 3, md5(mh7::VARCHAR || '_' || mh8::VARCHAR) FROM mh)
SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
FROM bands x JOIN bands y
  ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
ORDER BY doc_a, doc_b
"""


def q36_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup group resolution — the step a 100 TB pipeline runs AFTER
    LSH candidates: q21's pairs -> connected components (min-label
    propagation, ``operators/dedup.py``) -> group id (min doc_id),
    group size, canonical-survivor flag. Oracle closes the same graph
    with a recursive reachability CTE."""
    from pvt_spark.operators.dedup import dedup_groups

    pairs = q21_lsh_bands(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_groups(pairs).orderBy("doc_id")


Q36_SQL = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, unnest({_SHINGLES_DUCK}) AS shingle FROM documents),
mh AS (
  SELECT doc_id,
    {', '.join(f'min((({a} * {_DX}) % 1152921504606846989 + {a * 7919}) % 1152921504606846989) AS mh{a}' for a in range(1, 9))}
  FROM sh GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh1::VARCHAR || '_' || mh2::VARCHAR) AS bucket FROM mh
  UNION ALL SELECT doc_id, 1, md5(mh3::VARCHAR || '_' || mh4::VARCHAR) FROM mh
  UNION ALL SELECT doc_id, 2, md5(mh5::VARCHAR || '_' || mh6::VARCHAR) FROM mh
  UNION ALL SELECT doc_id, 3, md5(mh7::VARCHAR || '_' || mh8::VARCHAR) FROM mh),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM cand
  UNION SELECT doc_b, doc_a FROM cand),
reach(a, b) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
comp AS (SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a),
sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY group_id)
SELECT doc_id, group_id, group_size,
       CAST(doc_id = group_id AS INTEGER) AS is_canonical
FROM comp JOIN sizes USING (group_id)
ORDER BY doc_id
"""


def q22_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over tokens (sign of per-bit +-1 vote)."""
    (docs,) = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    h = "cast(conv(substring(md5(tok), 1, 14), 16, 10) as bigint)"
    votes = [
        F.sum(F.expr(f"CASE WHEN ({h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END")).alias(f"v{j}")
        for j in range(16)
    ]
    voted = toks.groupBy("doc_id").agg(*votes)
    sig = " + ".join(f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    return voted.select("doc_id", F.expr(sig).cast("long").alias("simhash")).orderBy("doc_id")


_DH = "('0x' || substring(md5(tok), 1, 14))::BIGINT"
Q22_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
voted AS (
  SELECT doc_id,
    {', '.join(f'sum(CASE WHEN ({_DH} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}' for j in range(16))}
  FROM toks GROUP BY doc_id)
SELECT doc_id,
  cast({' + '.join(f'(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)' for j in range(16))} AS BIGINT) AS simhash
FROM voted ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Similarity search over `embeddings` (exact integer quantization)
# ---------------------------------------------------------------------------


def q23_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k by dot product in exact quantized integer space
    (query = vec_id 0); ties broken by vec_id."""
    (emb,) = load(spark, sf_dir, "embeddings")
    q = "transform(embedding, e -> cast(round(e * 10000) as bigint))"
    quant = emb.select("vec_id", F.expr(q).alias("qv"))
    query = quant.where(F.col("vec_id") == 0).select(F.col("qv").alias("query_v"))
    dot = "aggregate(zip_with(qv, query_v, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    return (
        quant.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(query))
        .select("vec_id", F.expr(dot).alias("dot"))
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(10)
    )


Q23_SQL = """
WITH quant AS (
  SELECT vec_id, list_transform(embedding, e -> cast(round(e * 10000) AS BIGINT)) AS qv
  FROM embeddings),
query AS (SELECT qv AS query_v FROM quant WHERE vec_id = 0)
SELECT vec_id,
       cast(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * query_v[i])) AS BIGINT) AS dot
FROM quant, query WHERE vec_id != 0
ORDER BY dot DESC, vec_id ASC LIMIT 10
"""


def q24_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style coarse assignment: nearest of 4 deterministic centroids
    (rows 0..3) per vector, exact integer squared L2."""
    from pyspark.sql.window import Window

    (emb,) = load(spark, sf_dir, "embeddings")
    q = "transform(embedding, e -> cast(round(e * 10000) as bigint))"
    quant = emb.select("vec_id", F.expr(q).alias("qv"))
    cents = quant.where(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    d2 = "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    w = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("centroid_id"))
    return (
        quant.crossJoin(F.broadcast(cents))
        .select("vec_id", "centroid_id", F.expr(d2).alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", "centroid_id", "d2")
        .orderBy("vec_id")
    )


Q24_SQL = """
WITH quant AS (
  SELECT vec_id, list_transform(embedding, e -> cast(round(e * 10000) AS BIGINT)) AS qv
  FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, qv AS cv FROM quant WHERE vec_id <= 3),
dists AS (
  SELECT q.vec_id, c.centroid_id,
         cast(list_sum(list_transform(range(1, len(q.qv) + 1),
                  i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) AS d2
  FROM quant q, cents c),
ranked AS (
  SELECT vec_id, centroid_id, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
  FROM dists)
SELECT vec_id, centroid_id, d2 FROM ranked WHERE rn = 1 ORDER BY vec_id
"""




# hyperplane-LSH for embedding near-dup: 16 deterministic +-1
# hyperplanes (md5-derived per (plane, dim) — same literals inlined in
# both engines), 4 bands x 4 planes. Candidate pairs share at least one
# band bucket (equi-join, no cartesian); the exact cosine test then
# filters them. Semantics: LSH-candidate AND cos >= 0.95, mirrored in
# the oracle — a true near-dup pair missing every band is excluded on
# both sides (standard LSH recall tradeoff, documented).
_Q29_DIM = 64
_Q29_PLANES = 16
_Q29_BANDS = 4


def _q29_coefs() -> list[list[int]]:
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[0], 16) >= 8 else -1
            for i in range(_Q29_DIM)
        ]
        for p in range(_Q29_PLANES)
    ]


def q29_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH bands +
    exact integer verification (cos >= 0.95 as dot^2 >= 0.25*|a|^2*|b|^2)."""
    from functools import reduce

    (emb,) = load(spark, sf_dir, "embeddings")
    q = "transform(embedding, e -> cast(round(e * 10000) as bigint))"
    quant = emb.select("vec_id", F.expr(q).alias("qv")).withColumn(
        "n2", F.expr("aggregate(transform(qv, x -> x * x), 0L, (acc, v) -> acc + v)")
    )
    coefs = _q29_coefs()
    signs = []
    for p, cs in enumerate(coefs):
        arr = ", ".join(str(c) for c in cs)
        signs.append(
            F.expr(
                f"CASE WHEN aggregate(zip_with(qv, array({arr}), (x, c) -> x * c), "
                f"0L, (acc, v) -> acc + v) >= 0 THEN 1 ELSE 0 END"
            ).alias(f"s{p}")
        )
    signed = quant.select("vec_id", "qv", "n2", *signs)
    per_plane = _Q29_PLANES // _Q29_BANDS
    bands = []
    for b in range(_Q29_BANDS):
        bucket = sum(
            F.col(f"s{b * per_plane + j}") * (1 << j) for j in range(per_plane)
        )
        bands.append(
            signed.select("vec_id", F.lit(b).alias("band"), bucket.alias("bucket"))
        )
    allb = reduce(DataFrame.unionByName, bands)
    cand = (
        allb.alias("x")
        .join(
            allb.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b")
        )
        .distinct()
    )
    dotq = "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    pairs = (
        cand.join(quant.alias("a"), F.col("vec_a") == F.col("a.vec_id"))
        .join(quant.alias("b"), F.col("vec_b") == F.col("b.vec_id"))
        .select(
            "vec_a",
            "vec_b",
            F.expr(dotq).alias("dot"),
            F.col("a.n2").alias("na"),
            F.col("b.n2").alias("nb"),
        )
    )
    return (
        pairs.where(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast("double") * F.col("dot").cast("double")
                >= F.lit(0.25) * F.col("na").cast("double") * F.col("nb").cast("double")
            )
        )
        .select("vec_a", "vec_b", "dot")
        .orderBy("vec_a", "vec_b")
    )


def _q29_sql() -> str:
    coefs = _q29_coefs()
    per_plane = _Q29_PLANES // _Q29_BANDS
    sign_cols = []
    for p, cs in enumerate(coefs):
        arr = ", ".join(str(c) for c in cs)
        sign_cols.append(
            f"CASE WHEN list_sum(list_transform(range(1, {_Q29_DIM} + 1), "
            f"i -> qv[i] * ([{arr}])[i])) >= 0 THEN 1 ELSE 0 END AS s{p}"
        )
    band_rows = []
    for b in range(_Q29_BANDS):
        bucket = " + ".join(
            f"s{b * per_plane + j} * {1 << j}" for j in range(per_plane)
        )
        band_rows.append(
            f"SELECT vec_id, {b} AS band, {bucket} AS bucket FROM signed"
        )
    return f"""
WITH quant AS (
  SELECT vec_id,
         list_transform(embedding, e -> cast(round(e * 10000) AS BIGINT)) AS qv
  FROM embeddings),
normed AS (
  SELECT vec_id, qv,
         cast(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
  FROM quant),
signed AS (
  SELECT vec_id, {", ".join(sign_cols)} FROM normed),
bands AS ({" UNION ALL ".join(band_rows)}),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
pairs AS (
  SELECT vec_a, vec_b,
         cast(list_sum(list_transform(range(1, {_Q29_DIM} + 1),
              i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
         a.n2 AS na, b.n2 AS nb
  FROM cand JOIN normed a ON vec_a = a.vec_id JOIN normed b ON vec_b = b.vec_id)
SELECT vec_a, vec_b, dot FROM pairs
WHERE dot > 0
  AND cast(dot AS DOUBLE) * cast(dot AS DOUBLE) >= 0.25 * cast(na AS DOUBLE) * cast(nb AS DOUBLE)
ORDER BY vec_a, vec_b
"""


Q29_SQL = _q29_sql()


# ---------------------------------------------------------------------------
# Engine-specific Hilbert queries. q25's oracle is pure golden constants
# (the reference's own asserted values). q26-q28 are FULLY oracle-checked:
# the order-32 Hilbert encode is recomputed inside DuckDB as a 32-step
# unrolled CTE chain (HUGEINT accumulator, bit-exact vs the numpy kernel
# on random + corner coords), so the kernel AND the leaf/tree/compose
# rollups are value-pinned on every synthetic point. Coordinates are
# integer-derived u32 grid cells (no float projection on either side).
# ---------------------------------------------------------------------------

# synthetic u32 grid coords from integer keys (pure int math, both engines)
_GRID_X = "({key} * 2654435761) % 4294967296"
_GRID_Y = "({key} * 2246822519) % 4294967296"


def _duck_hilbert_ctes(pts_sql: str) -> tuple[str, str]:
    """Order-32 Hilbert encode (Skilling/Wikipedia xy2d, fast_hilbert
    parity — same loop as pvt_spark.hilbert.xy2h) as DuckDB CTEs.

    ``pts_sql`` selects (feature_id, x, y) with x, y in [0, 2^32).
    Returns (cte_block, last_cte_name); the last CTE exposes
    (feature_id, d HUGEINT) with d = the u64 curve position. The flip
    step masks to bits below s (only those are consulted later), which
    reproduces numpy's C-style unsigned wrap without negative values.
    """
    lines = [
        "it32 AS (SELECT feature_id, CAST(x AS BIGINT) AS x, "
        f"CAST(y AS BIGINT) AS y, CAST(0 AS HUGEINT) AS d FROM ({pts_sql}))"
    ]
    prev = "it32"
    for i in range(31, -1, -1):
        s = 1 << i
        sm = s - 1
        ss = s * s
        rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
        cur = f"it{i}"
        lines.append(
            f"{cur} AS (SELECT feature_id, "
            f"d + CAST({ss} AS HUGEINT) * xor(3*{rx}, {ry}) AS d, "
            f"CASE WHEN {ry}=0 THEN (CASE WHEN {rx}=1 THEN {sm}-(y & {sm}) ELSE y END) ELSE x END AS x, "
            f"CASE WHEN {ry}=0 THEN (CASE WHEN {rx}=1 THEN {sm}-(x & {sm}) ELSE x END) ELSE y END AS y "
            f"FROM {prev})"
        )
        prev = cur
    return ",\n".join(lines), prev


_BIAS_HUGE = "CAST('9223372036854775808' AS HUGEINT)"


def _grid_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer -> (feature_id, x, y u32-grid, h) via the engine kernel."""
    from .functions.geo import xy_to_hilbert_h

    (cust,) = load(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("feature_id"),
        F.expr(_GRID_X.format(key="c_custkey")).alias("x"),
        F.expr(_GRID_Y.format(key="c_custkey")).alias("y"),
    )
    return pts.withColumn("h", xy_to_hilbert_h(F.col("x"), F.col("y")))


_Q26_PTS = (
    "SELECT c_custkey AS feature_id, "
    + _GRID_X.format(key="c_custkey")
    + " AS x, "
    + _GRID_Y.format(key="c_custkey")
    + " AS y FROM customer"
)


def q25_hilbert_goldens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel parity: compute h for reference-asserted coordinates via the
    engine's pandas-UDF path (reference src/location.rs:237-284)."""
    from .functions.geo import hilbert_h

    pts = local_frame(
        spark,
        [
            ("cavallero", -1220279745, 370491457),
            ("null_island", 0, 0),
            ("origin_nw", -1800000000, 900000000),
            ("bering_se", 1800000000, 900000000),
        ],
        "name string, lon_dm7 int, lat_dm7 int",
    )
    return pts.select(
        "name", hilbert_h(F.col("lon_dm7"), F.col("lat_dm7")).alias("h_signed")
    ).orderBy("name")


# signed h = u64 h - 2^63 (order-preserving bias, see pvt_spark.hilbert)
Q25_SQL = """
SELECT * FROM (VALUES
  ('bering_se',   9223372036854775807),
  ('cavallero',  -5562949934391489994),
  ('null_island', 0),
  ('origin_nw',  -9223372036854775808)
) AS t(name, h_signed) ORDER BY name
"""


def q26_hilbert_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 on the real Hilbert key over customer-derived grid points;
    value-pinned by the DuckDB unrolled-Hilbert oracle."""
    from .operators.leaves import build_leaves

    return build_leaves(_grid_points(spark, sf_dir), leaf_zoom=12).orderBy("leaf_h")


def _q26_sql() -> str:
    ctes, last = _duck_hilbert_ctes(_Q26_PTS)
    return f"""
WITH {ctes}
SELECT CAST(d // 1099511627776 AS BIGINT) AS leaf_h,
       count(*) AS n_count,
       CAST(min(d - {_BIAS_HUGE}) AS BIGINT) AS h_min,
       CAST(max(d - {_BIAS_HUGE}) AS BIGINT) AS h_max
FROM {last} GROUP BY leaf_h ORDER BY leaf_h
"""


Q26_SQL = _q26_sql()


def q27_tile_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 full even-zoom tree over the same grid points; the bit_or/shift
    rollup AND the kernel are value-pinned by the oracle."""
    from .operators.leaves import build_leaves
    from .operators.tree import build_tile_tree

    tree = build_tile_tree(
        build_leaves(_grid_points(spark, sf_dir), leaf_zoom=12), leaf_zoom=12
    )
    return tree.select(
        "zoom", "tile_h", "child_mask", "n_count", "leaf_count"
    ).orderBy("zoom", "tile_h")


def _q27_sql() -> str:
    ctes, last = _duck_hilbert_ctes(_Q26_PTS)
    lvl = [
        "lvl12 AS (SELECT CAST(d // 1099511627776 AS BIGINT) AS tile_h, "
        f"count(*) AS n_count FROM {last} GROUP BY tile_h)"
    ]
    sel = [
        "SELECT CAST(12 AS INT) AS zoom, tile_h, CAST(0 AS INT) AS child_mask, "
        "n_count, CAST(1 AS BIGINT) AS leaf_count FROM lvl12"
    ]
    prev_counts = "SELECT tile_h, n_count, CAST(1 AS BIGINT) AS leaf_count FROM lvl12"
    prev = "lvl12c"
    lvl.append(f"lvl12c AS ({prev_counts})")
    for z in range(10, -1, -2):
        cur = f"lvl{z}c"
        lvl.append(
            f"{cur} AS (SELECT tile_h // 16 AS tile_h, "
            f"CAST(bit_or(1 << CAST(tile_h & 15 AS INT)) AS INT) AS child_mask, "
            f"CAST(sum(n_count) AS BIGINT) AS n_count, "
            f"CAST(sum(leaf_count) AS BIGINT) AS leaf_count "
            f"FROM {prev} GROUP BY tile_h // 16)"
        )
        sel.append(
            f"SELECT CAST({z} AS INT) AS zoom, tile_h, child_mask, n_count, "
            f"leaf_count FROM {cur}"
        )
        prev = cur
    return (
        f"WITH {ctes},\n" + ",\n".join(lvl) + "\n"
        + " UNION ALL ".join(f"({s})" for s in sel)
        + " ORDER BY zoom, tile_h"
    )


Q27_SQL = _q27_sql()


def q28_tile_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full compose path over supplier-derived tagged grid points: rule
    filter -> pyramid explode -> tile assembly -> per-tile stats.
    Value-pinned: the oracle mirrors the rule winners (Tag > Value > Key
    precedence on these single-tag features), the even-zoom explode and
    the Hilbert tile assignment in SQL (payload bytes excluded)."""
    from .functions.geo import xy_to_hilbert_h
    from .manifest import DEFAULT_MANIFEST, compile_rules
    from .operators.compose import compose_tiles
    from .operators.content import render_content
    from .operators.rules import include_evals, include_tags

    (supp,) = load(spark, sf_dir, "supplier")
    kinds = ["place", "amenity", "highway", "building", "shop", "natural", "power"]
    vals = ["city", "bus_station", "primary", "yes", "supermarket", "tree", "pole"]
    kv = F.element_at(
        F.array(*[F.lit(k) for k in kinds]), (F.col("s_suppkey") % 7 + 1).cast("int")
    )
    vv = F.element_at(
        F.array(*[F.lit(v) for v in vals]), (F.col("s_suppkey") % 7 + 1).cast("int")
    )
    pts = supp.select(
        F.col("s_suppkey").alias("feature_id"),
        F.expr(_GRID_X.format(key="s_suppkey")).alias("gx"),
        F.expr(_GRID_Y.format(key="s_suppkey")).alias("gy"),
        F.map_from_arrays(F.array(kv), F.array(vv)).alias("tags"),
    ).withColumn("h", xy_to_hilbert_h(F.col("gx"), F.col("gy")))
    compiled = compile_rules(DEFAULT_MANIFEST)
    content = render_content(
        pts, DEFAULT_MANIFEST, compiled, carry_cols=["tags", "gx", "gy"]
    )
    evals_df = include_evals(spark, compiled)
    feats = include_tags(content.join(F.broadcast(evals_df), "eval_i", "left"))
    rf = feats.select(
        "zoom",
        "tile_h",
        "feature_id",
        "h",
        F.explode("layers").alias("layer"),
        "out_tags",
        F.array("gx").alias("geom_x"),
        F.array("gy").alias("geom_y"),
    )
    tiles = compose_tiles(rf, ["no_rule"] + DEFAULT_MANIFEST.layer_order)
    return tiles.select(
        "zoom", "tile_h", "layer_count", "feature_count"
    ).orderBy("zoom", "tile_h")


def _q28_sql() -> str:
    # rule winners for the 7 single-tag kinds (Tag > Value > Key):
    # k=0 place->place(4), 1 amenity->amenity(10), 2 (highway,primary)->
    # value match highway_major(6), 3 building->building(12), 4 shop->
    # shop(10), 5 natural->natural(8), 6 (power,pole)->tag match power(12)
    minzooms = [4, 10, 6, 12, 10, 8, 12]
    layers = ["Places", "Places", "Roads", "Buildings", "Buildings", "Nature", "Power"]
    pts = (
        "SELECT s_suppkey AS feature_id, "
        + _GRID_X.format(key="s_suppkey")
        + " AS x, "
        + _GRID_Y.format(key="s_suppkey")
        + " AS y FROM supplier"
    )
    ctes, last = _duck_hilbert_ctes(pts)
    mz = " ".join(
        f"WHEN {k} THEN {z}" for k, z in enumerate(minzooms)
    )
    ly = " ".join(f"WHEN {k} THEN '{v}'" for k, v in enumerate(layers))
    return f"""
WITH {ctes},
feat AS (
  SELECT h.feature_id, h.d,
         CASE (h.feature_id % 7) {mz} END AS minzoom,
         CASE (h.feature_id % 7) {ly} END AS layer
  FROM {last} h),
expanded AS (
  SELECT feature_id, d, layer, unnest(generate_series(minzoom, 12, 2)) AS zoom
  FROM feat)
SELECT CAST(zoom AS INT) AS zoom,
       CAST(d // (CASE zoom {" ".join(f"WHEN {z} THEN CAST('{1 << (2 * (32 - z))}' AS HUGEINT)" for z in range(4, 13, 2))} END) AS BIGINT) AS tile_h,
       CAST(count(DISTINCT layer) AS INT) AS layer_count,
       count(*) AS feature_count
FROM expanded GROUP BY zoom, tile_h ORDER BY zoom, tile_h
"""


Q28_SQL = _q28_sql()


def q31_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF ANN query (the 100 TB-scale similarity-search path):
    coarse-assign every vector to its nearest of ceil(sqrt(N))
    centroids — the scale-correct cell count, computed from the table
    itself on BOTH sides (Spark driver count / SQL subquery), so the
    constants stay right at every SF — then search ONLY the query's
    nprobe=2 nearest cells for the top-10 by exact integer dot
    product. Candidate set = cell-restricted equi-join, never all
    vectors. The trained-quantizer variant (distributed k-means +
    map-side assignment) is operators/ann.py, benched at 1e5 vectors
    with recall@10 in bench.py."""
    import math

    from pyspark.sql.window import Window

    (emb,) = load(spark, sf_dir, "embeddings")
    q = "transform(embedding, e -> cast(round(e * 10000) as bigint))"
    quant = emb.select("vec_id", F.expr(q).alias("qv"))
    n_cent = math.ceil(math.sqrt(emb.count()))
    cents = quant.where(F.col("vec_id") < n_cent).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    d2 = "aggregate(zip_with(qv, cv, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    w1 = Window.partitionBy("vec_id").orderBy(F.asc("d2"), F.asc("centroid_id"))
    assigned = (
        quant.crossJoin(F.broadcast(cents))
        .select("vec_id", "qv", "centroid_id", F.expr(d2).alias("d2"))
        .withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") == 1)
        .select("vec_id", "qv", "centroid_id")
    )
    # query = vec_id 0; its nprobe=2 nearest cells
    probe = (
        quant.where(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(cents))
        .select(F.col("centroid_id"), F.expr(d2).alias("d2"), F.col("qv").alias("query_v"))
        .orderBy(F.asc("d2"), F.asc("centroid_id"))
        .limit(2)
    )
    dot = "aggregate(zip_with(qv, query_v, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    return (
        assigned.join(F.broadcast(probe), "centroid_id")
        .where(F.col("vec_id") != 0)
        .select("vec_id", "centroid_id", F.expr(dot).alias("dot"))
        .orderBy(F.desc("dot"), F.asc("vec_id"))
        .limit(10)
    )


Q31_SQL = """
WITH quant AS (
  SELECT vec_id, list_transform(embedding, e -> cast(round(e * 10000) AS BIGINT)) AS qv
  FROM embeddings),
cents AS (SELECT vec_id AS centroid_id, qv AS cv FROM quant
          WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
assigned AS (
  SELECT vec_id, qv, centroid_id FROM (
    SELECT q.vec_id, q.qv, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             cast(list_sum(list_transform(range(1, len(q.qv) + 1),
                  i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) ASC,
             c.centroid_id ASC) AS rn
    FROM quant q, cents c) WHERE rn = 1),
probe AS (
  SELECT c.centroid_id, q.qv AS query_v
  FROM quant q, cents c WHERE q.vec_id = 0
  ORDER BY cast(list_sum(list_transform(range(1, len(q.qv) + 1),
        i -> (q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]))) AS BIGINT) ASC,
        c.centroid_id ASC
  LIMIT 2)
SELECT a.vec_id, a.centroid_id,
       cast(list_sum(list_transform(range(1, len(a.qv) + 1),
            i -> a.qv[i] * p.query_v[i])) AS BIGINT) AS dot
FROM assigned a JOIN probe p USING (centroid_id)
WHERE a.vec_id != 0
ORDER BY dot DESC, vec_id ASC LIMIT 10
"""


_BPE_RE = "[a-z]+|[A-Z][a-z]*|[0-9]{1,3}|[^A-Za-z0-9 ]"


def q32_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: regex token classes (lowercase runs,
    capitalized words, digit triples, single symbols) — the pre-merge
    word-split stage of byte-pair tokenizers — plus whitespace count
    for comparison."""
    (docs,) = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")).alias(
            "bpe_tokens"
        ),
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
    ).orderBy("doc_id")


Q32_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
       len(string_split(text, ' ')) AS ws_tokens
FROM documents ORDER BY doc_id
"""


_Q30_N_WAYS = 100
# SQL-expressible group assignment (Knuth multiplicative hash) so the
# DuckDB oracle reproduces the way partition exactly
_Q30_GRP = f"(feature_id * 2654435761) % {_Q30_N_WAYS}"


def q30_way_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-build compose path, VALUE-ORACLED end-to-end: derive ways
    from customer grid points (Hilbert-ordered refs, ring/line mix per
    src/sort.rs:262-383's ladder), assign way h (J3/A2), resolve
    geometry (J1), run rules + pyramid + the generic compose —
    per-tile layer/feature stats.

    The oracle (``q30_sql``) recomputes every node h with the unrolled
    32-step Hilbert CTE, re-derives line/small-way h in SQL (middle
    vertex / first ref), and pins ONLY the closed rings' interior-point
    h through a VALUES table produced by the same golden-tested numpy
    kernel (``_interior_point`` + ``xy2h``) the operator runs
    distributed — the one genuinely non-SQL-expressible step."""
    from .manifest import DEFAULT_MANIFEST, compile_rules
    from .operators.compose import compose_tiles
    from .operators.content import render_content
    from .operators.feature_h import assign_way_h, way_geometry
    from .operators.rules import include_evals, include_tags
    from .sources.ways import synthesize_ways

    pts = _grid_points(spark, sf_dir)
    ways = synthesize_ways(pts, _Q30_N_WAYS, grp=F.expr(_Q30_GRP))
    feats = way_geometry(
        assign_way_h(ways, pts, grid_cols=("x", "y")), pts, grid_cols=("x", "y")
    )
    compiled = compile_rules(DEFAULT_MANIFEST)
    content = render_content(
        feats, DEFAULT_MANIFEST, compiled, carry_cols=["tags", "geom_x", "geom_y"]
    )
    evals_df = include_evals(spark, compiled)
    rf = include_tags(content.join(F.broadcast(evals_df), "eval_i", "left")).select(
        "zoom",
        "tile_h",
        "feature_id",
        "h",
        F.explode("layers").alias("layer"),
        "out_tags",
        "geom_x",
        "geom_y",
    )
    tiles = compose_tiles(rf, ["no_rule"] + DEFAULT_MANIFEST.layer_order)
    return tiles.select(
        "zoom", "tile_h", "layer_count", "feature_count"
    ).orderBy("zoom", "tile_h")


def _q30_ring_values(sf_dir: str) -> list[tuple[int, int]]:
    """(g, way_d) for every closed-ring way: the ring interior-point h,
    computed by the SAME numpy kernel the operator executes distributed
    (``_interior_point`` + order-32 ``xy2h``; golden-tested in
    tests/test_hilbert.py and tests/test_ways_compose.py). Driver-side
    over the customer keys only — the one ladder step no SQL engine can
    express (reference src/sort.rs:300-352)."""
    import pyarrow.parquet as pq

    from . import hilbert as hb
    from .operators.feature_h import _interior_point

    fid = (
        pq.read_table(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
        .column("c_custkey")
        .to_numpy()
        .astype(np.int64)
    )
    x = (fid * 2654435761) % 4294967296
    y = (fid * 2246822519) % 4294967296
    g = (fid * 2654435761) % _Q30_N_WAYS
    d = hb.xy2h(x.astype(np.uint64), y.astype(np.uint64), 32)
    rows: list[tuple[int, int]] = []
    for gv in range(0, _Q30_N_WAYS, 2):  # only even groups close into rings
        idx = np.flatnonzero(g == gv)
        if len(idx) < 4:
            continue
        sel = idx[np.lexsort((fid[idx], d[idx]))]  # refs in (h, id) order
        xs = np.concatenate([x[sel], x[sel][:1]]).astype(np.float64)
        ys = np.concatenate([y[sel], y[sel][:1]]).astype(np.float64)
        try:
            ix, iy = _interior_point(xs, ys)
            dv = int(
                hb.xy2h(
                    np.array([int(ix)], np.uint64), np.array([int(iy)], np.uint64), 32
                )[0]
            )
        except Exception:  # the ladder's median-ref fallback
            dv = int(d[sel[len(sel) // 2]])
        rows.append((gv, dv))
    return rows


def q30_sql(sf_dir: str) -> str:
    """DuckDB oracle for q30 (see q30_way_tiles docstring): node h via
    the unrolled Hilbert CTE; way h ladder in SQL except ring interior
    points (kernel VALUES); rule winners + even-zoom pyramid + per-tile
    stats exactly as q28's oracle."""
    pts = (
        "SELECT c_custkey AS feature_id, "
        + _GRID_X.format(key="c_custkey")
        + " AS x, "
        + _GRID_Y.format(key="c_custkey")
        + " AS y FROM customer"
    )
    ctes, last = _duck_hilbert_ctes(pts)
    rings = _q30_ring_values(sf_dir)
    if rings:
        ring_sql = (
            "SELECT g, CAST(way_d AS HUGEINT) AS way_d FROM (VALUES "
            + ", ".join(f"({g}, '{d}'::HUGEINT)" for g, d in rings)
            + ") AS t(g, way_d)"
        )
    else:
        ring_sql = "SELECT CAST(NULL AS BIGINT) AS g, CAST(NULL AS HUGEINT) AS way_d WHERE 1=0"
    # rule winners per way kind (g % 4 -> tags, Tag > Value > Key):
    #   0 highway=primary  -> value match highway_major (6, Roads)
    #   1 building=yes     -> key match building (12, Buildings)
    #   2 natural=wood     -> key match natural (8, Nature)
    #   3 power=line       -> NO match -> no_rule (zoom 12 only)
    zoom_div = " ".join(
        f"WHEN {z} THEN CAST('{1 << (2 * (32 - z))}' AS HUGEINT)"
        for z in range(6, 13, 2)
    )
    return f"""
WITH {ctes},
memb AS (
  SELECT p.feature_id, ({_Q30_GRP.replace('feature_id', 'p.feature_id')}) AS g, l.d,
         row_number() OVER (PARTITION BY ({_Q30_GRP.replace('feature_id', 'p.feature_id')})
                            ORDER BY l.d, p.feature_id) AS pos,
         count(*) OVER (PARTITION BY ({_Q30_GRP.replace('feature_id', 'p.feature_id')})) AS cnt
  FROM ({pts}) p JOIN {last} l USING (feature_id)),
line_h AS (
  SELECT g, d AS way_d FROM memb
  WHERE cnt >= 2 AND (
        (cnt < 4 AND pos = 1)
     OR (cnt >= 4 AND g % 2 = 1 AND pos = cnt // 2 + 1))),
ring_h AS ({ring_sql}),
wayh AS (SELECT g, way_d FROM line_h UNION ALL SELECT g, way_d FROM ring_h),
ruled AS (
  SELECT g, way_d,
    CASE (g % 4) WHEN 0 THEN 6 WHEN 1 THEN 12 WHEN 2 THEN 8 ELSE 12 END AS minzoom,
    CASE (g % 4) WHEN 0 THEN 'Roads' WHEN 1 THEN 'Buildings' WHEN 2 THEN 'Nature'
                 ELSE 'no_rule' END AS layer
  FROM wayh),
expanded AS (
  SELECT g, way_d, layer, unnest(generate_series(minzoom, 12, 2)) AS zoom FROM ruled)
SELECT CAST(zoom AS INT) AS zoom,
       CAST(way_d // (CASE zoom {zoom_div} END) AS BIGINT) AS tile_h,
       CAST(count(DISTINCT layer) AS INT) AS layer_count,
       count(*) AS feature_count
FROM expanded GROUP BY zoom, tile_h ORDER BY zoom, tile_h
"""


def q33_raster_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster<->vector consistency (north rule): rasterize the EMITTED
    tile payloads and the same features straight from coordinates onto
    per-tile occupancy grids and full-outer-compare. Output = mismatch
    cells; the oracle is the EMPTY set, so the driver's hash check
    certifies payload round-trip integrity (projection, codec, ordering,
    dropped features) end-to-end."""
    from .functions.geo import xy_to_hilbert_h
    from .manifest import DEFAULT_MANIFEST, compile_rules
    from .operators.compose import compose_tiles
    from .operators.content import render_content
    from .operators.raster import (
        raster_mismatches,
        rasterize_features,
        rasterize_payloads,
    )
    from .operators.rules import include_evals, include_tags

    (supp,) = load(spark, sf_dir, "supplier")
    kinds = ["place", "amenity", "highway", "building", "shop", "natural", "power"]
    vals = ["city", "bus_station", "primary", "yes", "supermarket", "tree", "pole"]
    kv = F.element_at(
        F.array(*[F.lit(k) for k in kinds]), (F.col("s_suppkey") % 7 + 1).cast("int")
    )
    vv = F.element_at(
        F.array(*[F.lit(v) for v in vals]), (F.col("s_suppkey") % 7 + 1).cast("int")
    )
    pts = supp.select(
        F.col("s_suppkey").alias("feature_id"),
        F.expr(_GRID_X.format(key="s_suppkey")).alias("gx"),
        F.expr(_GRID_Y.format(key="s_suppkey")).alias("gy"),
        F.map_from_arrays(F.array(kv), F.array(vv)).alias("tags"),
    ).withColumn("h", xy_to_hilbert_h(F.col("gx"), F.col("gy")))
    compiled = compile_rules(DEFAULT_MANIFEST)
    content = render_content(
        pts, DEFAULT_MANIFEST, compiled, carry_cols=["tags", "gx", "gy"]
    )
    evals_df = include_evals(spark, compiled)
    feats = include_tags(content.join(F.broadcast(evals_df), "eval_i", "left"))
    rf = feats.select(
        "zoom",
        "tile_h",
        "feature_id",
        "h",
        F.explode("layers").alias("layer"),
        "out_tags",
        F.array("gx").alias("geom_x"),
        F.array("gy").alias("geom_y"),
        "gx",
        "gy",
    ).persist()
    tiles = compose_tiles(rf.drop("gx", "gy"), ["no_rule"] + DEFAULT_MANIFEST.layer_order)
    return raster_mismatches(
        rasterize_payloads(tiles), rasterize_features(rf)
    ).orderBy("zoom", "tile_h", "cell")


Q33_SQL = """
SELECT CAST(NULL AS INT) AS zoom, CAST(NULL AS BIGINT) AS tile_h,
       CAST(NULL AS INT) AS cell, CAST(NULL AS BIGINT) AS n_a,
       CAST(NULL AS BIGINT) AS n_b
WHERE 1 = 0
"""


def q37_cell_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H3/S2-style discrete global grid index (``functions/cells.py``,
    the north rule's "H3/S2 index" alongside the PVT Hilbert ids).

    Certifies the INTEGER algebra end-to-end: the S2-style face-Hilbert
    cell packing at level 12 (``pack_s2ish``), the parent-cell prefix
    truncation 12->8 (``s2ish_parent``), and the full hexagonal cell
    (axial transform + cube rounding, ``hexish_cell``) at res 2. Face
    and (si, ti) come from pure int key math on both sides; the oracle
    recomputes the curve position with the unrolled order-32 Hilbert
    CTE (== the level-12 encode for coords < 2^12: the 20 leading
    zero-bit iterations add 0 to d and their x/y swaps cancel in
    pairs) and the hex cell with the identical float expression tree
    (banker's rounding via round_even). The float gnomonic face
    projection/quadratic warp feeding ``s2ish_cell`` in production is
    golden/locality-tested in pytest (not SQL-portable bit-exactly).
    """
    from .functions.cells import hexish_cell_col, pack_s2ish_col, s2ish_parent_col

    (cust,) = load(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("feature_id"),
        (F.col("c_custkey") % 6).alias("face"),
        F.expr("(c_custkey * 2654435761) % 4096").alias("si"),
        F.expr("(c_custkey * 2246822519) % 4096").alias("ti"),
        F.expr("(c_custkey * 2654435761) % 3600000000 - 1800000000").alias("lon_dm7"),
        F.expr("(c_custkey * 2246822519) % 1700000000 - 850000000").alias("lat_dm7"),
    )
    return (
        pts.withColumn(
            "s2_cell", pack_s2ish_col(F.col("face"), F.col("si"), F.col("ti"), 12)
        )
        .select(
            "feature_id",
            "s2_cell",
            s2ish_parent_col(F.col("s2_cell"), 12, 8).alias("s2_parent"),
            hexish_cell_col(F.col("lon_dm7"), F.col("lat_dm7"), 2).alias("hex_cell"),
        )
        .orderBy("feature_id")
    )


_Q37_PTS = (
    "SELECT c_custkey AS feature_id, "
    "(c_custkey * 2654435761) % 4096 AS x, "
    "(c_custkey * 2246822519) % 4096 AS y FROM customer"
)
_q37_ctes, _q37_last = _duck_hilbert_ctes(_Q37_PTS)
Q37_SQL = f"""
WITH {_q37_ctes},
pts AS (
  SELECT c_custkey AS feature_id,
    ((c_custkey * 2654435761) % 3600000000 - 1800000000) / 1e7 AS lon,
    ((c_custkey * 2246822519) % 1700000000 - 850000000) / 1e7 AS lat
  FROM customer),
ax AS (
  SELECT feature_id,
    (sqrt(3.0)/3.0*lon - 1.0/3.0*lat)/(360.0/32) AS xc,
    (2.0/3.0*lat)/(360.0/32) AS zc
  FROM pts),
cr AS (
  SELECT feature_id, xc, zc, -xc-zc AS yc,
    round_even(xc, 0) AS rx, round_even(-xc-zc, 0) AS ry,
    round_even(zc, 0) AS rz
  FROM ax),
fx AS (
  SELECT feature_id, rx, ry, rz,
    (abs(rx-xc) > abs(ry-yc)) AND (abs(rx-xc) > abs(rz-zc)) AS fix_x,
    NOT((abs(rx-xc) > abs(ry-yc)) AND (abs(rx-xc) > abs(rz-zc)))
      AND (abs(rz-zc) > abs(ry-yc)) AS fix_z
  FROM cr),
f2 AS (
  SELECT feature_id, ry, rz, fix_z,
    CASE WHEN fix_x THEN -ry-rz ELSE rx END AS rx2
  FROM fx),
hex AS (
  SELECT feature_id,
    (CAST(2 AS BIGINT)*(1::BIGINT<<56))
      | ((CAST(rx2 AS BIGINT)+(1<<27))*(1::BIGINT<<28))
      | (CAST(CASE WHEN fix_z THEN -rx2-ry ELSE rz END AS BIGINT)+(1<<27))
      AS hex_cell
  FROM f2),
cells AS (
  SELECT feature_id,
    CAST((feature_id % 6)*(1::HUGEINT<<60) + d*(1::HUGEINT<<36) AS BIGINT)
      AS s2_cell,
    CAST((feature_id % 6)*(1::HUGEINT<<60)
         + (d // 256)*(1::HUGEINT<<44) AS BIGINT) AS s2_parent
  FROM {_q37_last})
SELECT c.feature_id, c.s2_cell, c.s2_parent, x.hex_cell
FROM cells c JOIN hex x USING (feature_id)
ORDER BY feature_id
"""


# messy crawl-URL variants from doc_id (same literal SQL both engines):
# mixed-case scheme/host, www. prefixes, explicit :443, utm params in
# leading and trailing positions, fragments, trailing slashes
_Q38_URL = (
    "concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END, "
    "CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END, "
    "'Site', CAST(doc_id % 50 AS VARCHAR), '.Example.COM', "
    "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END, "
    "'/path/', CAST(doc_id % 20 AS VARCHAR), "
    "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
    "CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed&utm_campaign=x' "
    "     WHEN doc_id % 7 = 1 THEN '?q=1&utm_medium=mail' ELSE '' END, "
    "CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END)"
)


def q38_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dup counting
    (``functions/urls.canonical_url`` — pure native SQL, whole-stage
    codegen, the web-corpus dedup precursor). Messy variants are
    synthesized from doc_id with the same literal SQL on both sides;
    the oracle mirrors the canonicalization chain step for step
    (common Java-regex/RE2 subset, no backreferences)."""
    from pyspark.sql.window import Window

    from .functions.urls import canonical_url

    (docs,) = load(spark, sf_dir, "documents")
    w = Window.partitionBy("canonical_url")
    return (
        docs.selectExpr(
            "doc_id", _Q38_URL.replace("AS VARCHAR", "AS STRING") + " AS url"
        )
        .withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn("n_variants", F.count(F.lit(1)).over(w))
        .select("doc_id", "url", "canonical_url", "n_variants")
        .orderBy("doc_id")
    )


Q38_SQL = f"""
WITH raw AS (SELECT doc_id, {_Q38_URL} AS url FROM documents),
s1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS u1 FROM raw),
s2 AS (
  SELECT doc_id, url, u1,
    lower(regexp_extract(u1, '^([A-Za-z]+://[^/?]*)', 1)) AS head,
    substring(u1, length(regexp_extract(u1, '^([A-Za-z]+://[^/?]*)', 1)) + 1)
      AS rest
  FROM s1),
s3 AS (
  SELECT doc_id, url,
    regexp_replace(regexp_replace(head, '://www\\.', '://'),
                   ':(80|443)$', '') AS head,
    regexp_replace(
      regexp_replace(
        regexp_replace(regexp_replace(rest, '([?&])(utm_[^&]*&)+', '\\1', 'g'),
                       '[?&]utm_[^&]*$', ''),
        '\\?&', '?'),
      '[?/]+$', '') AS rest
  FROM s2),
canon AS (SELECT doc_id, url, head || rest AS canonical_url FROM s3)
SELECT doc_id, url, canonical_url,
       count(*) OVER (PARTITION BY canonical_url) AS n_variants
FROM canon ORDER BY doc_id
"""


def q39_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup through the PRODUCTION operator
    (``operators/dedup.semantic_dedup``): quantize embeddings to
    integers (scale 1000 keeps the cosine test in int64), plant
    deterministic near-duplicate copies IN INTEGER SPACE (every 25th
    vector reappears at vec_id+1000000 with qv[0]+50 — same literal
    construction on both sides, the q38 pattern), cluster-assign to
    the first ceil(sqrt(N)) base vectors, within-cell integer-cosine
    pairs at 0.9, transitive groups via connected components. Natural
    pairs top out at cos ~0.51 in this table, so the expected groups
    are exactly the planted (orig, orig+1000) stars that land in a
    shared cell — and the oracle recomputes assignment + closure
    independently (recursive CTE), so that agreement is checked, not
    assumed."""
    import math

    from pvt_spark.operators.dedup import semantic_dedup

    (emb,) = load(spark, sf_dir, "embeddings")
    q = "transform(embedding, e -> cast(round(e * 1000) as bigint))"
    base = emb.select("vec_id", F.expr(q).alias("qv"))
    n_cent = math.ceil(math.sqrt(emb.count()))
    copies = base.where(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "concat(array(element_at(qv, 1) + 50L), slice(qv, 2, size(qv) - 1))"
        ).alias("qv"),
    )
    cents = base.where(F.col("vec_id") < n_cent).select(
        F.col("vec_id").alias("centroid_id"), F.col("qv").alias("cv")
    )
    aug = base.unionByName(copies)
    return semantic_dedup(aug, cents, threshold_milli=900).orderBy("doc_id")


Q39_SQL = """
WITH RECURSIVE base AS (
  SELECT vec_id, list_transform(embedding, e -> CAST(round(e * 1000) AS BIGINT)) AS qv
  FROM embeddings),
aug AS (
  SELECT vec_id, qv FROM base
  UNION ALL
  SELECT vec_id + 1000000, list_concat([qv[1] + 50], qv[2:]) FROM base
  WHERE vec_id % 25 = 0),
cents AS (SELECT vec_id AS centroid_id, qv AS cv FROM base
          WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings)),
asg AS (
  SELECT vec_id, centroid_id FROM (
    SELECT v.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             cast(list_sum(list_transform(range(1, len(v.qv) + 1),
                  i -> (v.qv[i] - c.cv[i]) * (v.qv[i] - c.cv[i]))) AS BIGINT) ASC,
             c.centroid_id ASC) AS rn
    FROM aug v, cents c) WHERE rn = 1),
asg2 AS (
  SELECT v.vec_id, v.qv, s.centroid_id,
         cast(list_sum(list_transform(v.qv, x -> x * x)) AS BIGINT) AS n2
  FROM aug v JOIN asg s USING (vec_id)),
cand AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         cast(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dot,
         a.n2 AS na, b.n2 AS nb
  FROM asg2 a JOIN asg2 b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
pairs AS (
  SELECT doc_a, doc_b FROM cand
  WHERE dot > 0 AND 1000000 * dot * dot >= 810000 * na * nb),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
comp AS (SELECT a AS doc_id, min(b) AS group_id FROM reach GROUP BY a),
sizes AS (SELECT group_id, count(*) AS group_size FROM comp GROUP BY group_id)
SELECT doc_id, group_id, group_size,
       CAST(doc_id = group_id AS INTEGER) AS is_canonical
FROM comp JOIN sizes USING (group_id)
ORDER BY doc_id
"""


def q40_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation funnel — the composed pipeline a training-data
    run actually executes, with per-stage retention accounting
    (CCNet/RefinedWeb stage order): URL-level dedup (canonical_url
    first-seen, q38's synthesis + ``functions/urls``) -> language
    filter (q17's stopword vote) -> quality floor (q16's stopword
    ratio >= 20 milli) -> exact-content dedup (md5 first-seen among
    survivors). ONE pass: stage membership is computed as monotone
    boolean flags per document (two window shuffles: canonical_url,
    text hash), then a single aggregate emits the 4-row funnel — no
    per-stage rescans, the shape that matters when each scan is
    100 TB."""
    from pyspark.sql.window import Window

    (docs,) = load(spark, sf_dir, "documents")
    en = "size(filter(split(text,' '), t -> t IN ('the','a','and','of')))"
    de = "size(filter(split(text,' '), t -> t IN ('der','die','das','und')))"
    fr = "size(filter(split(text,' '), t -> t IN ('le','la','et','des')))"
    stop = """size(filter(split(text,' '),
         t -> t IN ('the','a','of','to','and','in'))) * 1000
         div size(split(text,' '))"""
    from .functions.urls import canonical_url

    staged = (
        docs.selectExpr(
            "doc_id",
            "text",
            _Q38_URL.replace("AS VARCHAR", "AS STRING") + " AS url",
            f"{en} > {de} AND {en} > {fr} AS is_en",
            f"{stop} >= 20 AS quality_ok",
        )
        .withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn(
            "pass1",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("canonical_url")),
        )
        .withColumn("pass2", F.col("pass1") & F.col("is_en"))
        .withColumn("pass3", F.col("pass2") & F.col("quality_ok"))
        .withColumn(
            "pass4",
            F.col("pass3")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("pass3"), F.col("doc_id"))).over(
                    Window.partitionBy(F.md5(F.col("text")))
                )
            ),
        )
    )
    agg = staged.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("pass1").cast("long")).alias("n1"),
        F.sum(F.col("pass2").cast("long")).alias("n2"),
        F.sum(F.col("pass3").cast("long")).alias("n3"),
        F.sum(F.col("pass4").cast("long")).alias("n4"),
    )
    return agg.selectExpr(
        "stack(4, "
        "1, 'url_dedup',   n0, n1, "
        "2, 'langid_en',   n1, n2, "
        "3, 'quality',     n2, n3, "
        "4, 'exact_dedup', n3, n4) AS (stage, stage_name, rows_in, rows_out)"
    ).selectExpr(
        "stage",
        "stage_name",
        "rows_in",
        "rows_out",
        "rows_out * 1000 div rows_in AS retained_milli",
    )


Q40_SQL = f"""
WITH raw AS (
  SELECT doc_id, text, {_Q38_URL} AS url,
    {_D_EN} > {_D_DE} AND {_D_EN} > {_D_FR} AS is_en,
    len(list_filter(string_split(text,' '),
        t -> t IN ('the','a','of','to','and','in'))) * 1000
      // len(string_split(text,' ')) >= 20 AS quality_ok
  FROM documents),
s1 AS (SELECT *, regexp_replace(url, '#.*', '', 'g') AS u1 FROM raw),
s2 AS (
  SELECT *, lower(regexp_extract(u1, '^([A-Za-z]+://[^/?]*)', 1)) AS head,
    substring(u1, length(regexp_extract(u1, '^([A-Za-z]+://[^/?]*)', 1)) + 1)
      AS rest
  FROM s1),
s3 AS (
  SELECT doc_id, text, is_en, quality_ok,
    regexp_replace(regexp_replace(head, '://www\\.', '://'), ':(80|443)$', '')
    || regexp_replace(
         regexp_replace(
           regexp_replace(regexp_replace(rest, '([?&])(utm_[^&]*&)+', '\\1', 'g'),
                          '[?&]utm_[^&]*$', ''),
           '\\?&', '?'),
         '[?/]+$', '') AS canonical_url
  FROM s2),
flagged AS (
  SELECT doc_id, text, is_en, quality_ok,
    doc_id = min(doc_id) OVER (PARTITION BY canonical_url) AS pass1
  FROM s3),
flagged2 AS (
  SELECT *,
    pass1 AND is_en AS pass2,
    pass1 AND is_en AND quality_ok AS pass3
  FROM flagged),
flagged3 AS (
  SELECT *,
    pass3 AND doc_id = min(CASE WHEN pass3 THEN doc_id END)
                        OVER (PARTITION BY md5(text)) AS pass4
  FROM flagged2),
agg AS (
  SELECT count(*) AS n0,
    sum(CAST(pass1 AS BIGINT)) AS n1, sum(CAST(pass2 AS BIGINT)) AS n2,
    sum(CAST(pass3 AS BIGINT)) AS n3, sum(CAST(pass4 AS BIGINT)) AS n4
  FROM flagged3),
funnel AS (
  SELECT 1 AS stage, 'url_dedup' AS stage_name, n0 AS rows_in, n1 AS rows_out FROM agg
  UNION ALL SELECT 2, 'langid_en', n1, n2 FROM agg
  UNION ALL SELECT 3, 'quality', n2, n3 FROM agg
  UNION ALL SELECT 4, 'exact_dedup', n3, n4 FROM agg)
SELECT stage, stage_name,
       CAST(rows_in AS BIGINT) AS rows_in, CAST(rows_out AS BIGINT) AS rows_out,
       CAST(rows_out * 1000 // rows_in AS BIGINT) AS retained_milli
FROM funnel ORDER BY stage
"""


def q41_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics — the raster/vector-analytics staple: aggregate
    a per-point measurement over every admin polygon that contains the
    point. Composes the PRODUCTION partitioned PIP join (polygons stay
    a DataFrame, no broadcast ceiling — the zoning layer at planet
    scale is itself large) with an exact integer aggregate: count,
    sum, min/max, and mean in milli units. Point values are
    synthesized deterministically from the feature id (same literal
    SQL both sides, the q38 pattern)."""
    from .operators.pip import point_in_polygon_join

    pts, polys = _q13_inputs(spark, sf_dir)
    pts = pts.withColumn("value", F.expr("(feature_id * 48271) % 1000"))
    matched = point_in_polygon_join(pts, polys, cover_zoom=6, strategy="partitioned")
    return (
        matched.groupBy(F.col("admin_id").alias("n_nationkey"), "n_name")
        .agg(
            F.count(F.lit(1)).alias("point_count"),
            F.sum("value").alias("value_sum"),
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.expr("sum(value) * 1000 div count(1)").alias("value_mean_milli"),
        )
        .orderBy("n_nationkey")
    )


Q41_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS feature_id,
         {_SYNTH_LON} AS lon_dm7,
         {_SYNTH_LAT} AS lat_dm7,
         (c_custkey * 48271) % 1000 AS value
  FROM customer),
rects AS (
  SELECT n_nationkey, n_name,
         (n_nationkey::BIGINT % 5) * 720000000 - 1800000000 AS west,
         (n_nationkey::BIGINT % 5) * 720000000 - 1440000000 AS east,
         (n_nationkey::BIGINT // 5) * 340000000 - 850000000 AS south,
         (n_nationkey::BIGINT // 5) * 340000000 - 510000000 AS north
  FROM nation)
SELECT n_nationkey, n_name, count(*) AS point_count,
       CAST(sum(value) AS BIGINT) AS value_sum,
       min(value) AS value_min, max(value) AS value_max,
       CAST(sum(value) * 1000 // count(*) AS BIGINT) AS value_mean_milli
FROM pts JOIN rects
  ON lon_dm7 >= west AND lon_dm7 < east AND lat_dm7 >= south AND lat_dm7 < north
GROUP BY n_nationkey, n_name ORDER BY n_nationkey
"""


def _grams_expr_spark(n: int) -> str:
    """Word n-gram positions (NOT distinct — repetition counting needs
    every occurrence) as a native SQL array expression over ``text``.

    The word array binds once under a single-element transform; the
    naive inline form re-ran split(text) for every word slot of every
    gram position — O(len^2) per document (measured dominant in q42).
    CASE guard: Spark's sequence(1, 0) DESCENDS to [1, 0] instead of
    being empty, so docs shorter than n words need an explicit branch.
    """
    return (
        f"element_at(transform(array(split(text,' ')), w -> "
        f"CASE WHEN size(w) >= {n} THEN "
        f"transform(sequence(1, size(w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(w, i, {n}))) ELSE array() END), 1)"
    )


def _grams_expr_duck(n: int) -> str:
    return (
        f"[array_to_string(string_split(text,' ')[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(string_split(text,' ')) - {n - 1}, 0) + 1)]"
    )


def q42_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, App. A), word
    granularity: per document, the fraction of word-2-grams taken by
    the single most frequent 2-gram (``top_bigram_milli``) and the
    fraction of word-5-gram positions whose gram occurs more than once
    in the document (``dup_5gram_milli``). Exact integer milli units.

    Scale shape: ONE scan of the text column — both gram sizes are
    tagged structs in a single explode -> groupBy(doc_id, n, gram)
    with map-side partial aggregation -> per-doc conditional rollup.
    No self-join, no window over the corpus; the shuffle keys on
    (doc_id, n, gram), so hot grams stay bounded by per-document gram
    counts."""
    (docs,) = load(spark, sf_dir, "documents")
    tagged = (
        f"concat("
        f"transform({_grams_expr_spark(2)}, g -> named_struct('n', 2, 'gram', g)), "
        f"transform({_grams_expr_spark(5)}, g -> named_struct('n', 5, 'gram', g)))"
    )
    counts = (
        docs.select("doc_id", F.explode(F.expr(tagged)).alias("ng"))
        .select("doc_id", F.col("ng.n").alias("n"), F.col("ng.gram").alias("gram"))
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = counts.groupBy("doc_id", "n").agg(
        F.expr("max(c) * 1000 div sum(c)").alias("top_milli"),
        F.expr(
            "sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000 div sum(c)"
        ).alias("dup_milli"),
    )
    rolled = per.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("top_milli"))).alias("top_bigram_milli"),
        F.max(F.when(F.col("n") == 2, F.col("dup_milli"))).alias("dup_bigram_milli"),
        F.max(F.when(F.col("n") == 5, F.col("top_milli"))).alias("top_5gram_milli"),
        F.max(F.when(F.col("n") == 5, F.col("dup_milli"))).alias("dup_5gram_milli"),
    )
    return (
        docs.select("doc_id")
        .join(rolled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_bigram_milli", F.lit(0)).alias("top_bigram_milli"),
            F.coalesce("dup_bigram_milli", F.lit(0)).alias("dup_bigram_milli"),
            F.coalesce("top_5gram_milli", F.lit(0)).alias("top_5gram_milli"),
            F.coalesce("dup_5gram_milli", F.lit(0)).alias("dup_5gram_milli"),
        )
        .orderBy("doc_id")
    )


Q42_SQL = f"""
WITH g2 AS (
  SELECT doc_id, unnest({_grams_expr_duck(2)}) AS gram FROM documents),
g5 AS (
  SELECT doc_id, unnest({_grams_expr_duck(5)}) AS gram FROM documents),
c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
c5 AS (SELECT doc_id, gram, count(*) AS c FROM g5 GROUP BY doc_id, gram),
r2 AS (
  SELECT doc_id,
         CAST(max(c) * 1000 // sum(c) AS BIGINT) AS top_bigram_milli,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000 // sum(c) AS BIGINT)
           AS dup_bigram_milli
  FROM c2 GROUP BY doc_id),
r5 AS (
  SELECT doc_id,
         CAST(max(c) * 1000 // sum(c) AS BIGINT) AS top_5gram_milli,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000 // sum(c) AS BIGINT)
           AS dup_5gram_milli
  FROM c5 GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(top_bigram_milli, 0) AS top_bigram_milli,
       coalesce(dup_bigram_milli, 0) AS dup_bigram_milli,
       coalesce(top_5gram_milli, 0) AS top_5gram_milli,
       coalesce(dup_5gram_milli, 0) AS dup_5gram_milli
FROM documents d LEFT JOIN r2 USING (doc_id) LEFT JOIN r5 USING (doc_id)
ORDER BY d.doc_id
"""


def q43_crossdoc_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection at word granularity —
    the inverted-index shape of substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a word
    8-gram appearing in >= 2 distinct documents marks a shared span.
    Per document: how many of its distinct 8-grams are shared with any
    other document, and the milli fraction of its distinct 8-grams.

    Scale shape: distinct grams per doc -> groupBy(gram) to count
    distinct docs (the inverted index; partial-agg friendly) -> filter
    shared -> equi-join back on gram -> per-doc rollup. Equivalent to
    the suffix-array pass at fixed span length, with no sort over the
    concatenated corpus and no self-join."""
    (docs,) = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(f"array_distinct({_grams_expr_spark(8)})")
        ).alias("gram"),
    )
    shared = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("gram")
    )
    per_doc = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        grams.join(shared, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    return (
        per_doc.join(hits, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "shared_grams",
            F.expr("shared_grams * 1000 div n_grams").alias("shared_milli"),
        )
        .orderBy("doc_id")
    )


Q43_SQL = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id, unnest({_grams_expr_duck(8)}) AS gram FROM documents)),
shared AS (
  SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
per_doc AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*) AS shared_grams
  FROM grams JOIN shared USING (gram) GROUP BY doc_id)
SELECT doc_id, n_grams, shared_grams,
       CAST(shared_grams * 1000 // n_grams AS BIGINT) AS shared_milli
FROM per_doc JOIN hits USING (doc_id)
ORDER BY doc_id
"""


_Q44_TERMS = ("spark", "hash", "window")
_Q44_K = 10


def q44_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style retrieval: score every document against a fixed
    3-term query and return the top 10. Exact-integer variant of
    Robertson/Sparck-Jones BM25 (k1=1.2, b=0.75 in milli units; the
    log idf is replaced by the rational rarity weight
    ``(N - df + 1) * 1000 div (df + 1)`` so Spark and DuckDB agree
    bit-for-bit — documented divergence, monotone in df exactly like
    the log form).

    Scale shape: term explode -> filter to query terms BEFORE any
    shuffle (the inverted-index posting fetch), groupBy(doc_id, term)
    tf, broadcast term df + scalar corpus stats, one window for the
    final top-k. No self-join; candidate set is bounded by the
    postings of the query terms, not the corpus."""
    from pyspark.sql.window import Window

    (docs,) = load(spark, sf_dir, "documents")
    terms = ", ".join(f"'{t}'" for t in _Q44_TERMS)
    base = docs.selectExpr("doc_id", "split(text, ' ') AS words")
    lens = base.selectExpr("doc_id", "size(words) AS dl")
    postings = base.selectExpr(
        "doc_id", "explode(words) AS term"
    ).where(f"term IN ({terms})")
    tf = postings.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("sum(dl) * 1000 div count(1)").alias("avgdl_milli"),
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .selectExpr(
            "doc_id", "term", "tf",
            "(n_docs - df_t + 1) * 1000 div (df_t + 1) AS idf_milli",
            "dl * 1000000 div avgdl_milli AS l_milli",
        )
        .selectExpr(
            "doc_id", "term",
            "idf_milli * ((tf * 2200 * 1000) div "
            "(tf * 1000 + (1200 * (250 + (750 * l_milli) div 1000)) div 1000)) "
            "div 1000 AS term_milli",
        )
        .groupBy("doc_id")
        .agg(
            F.sum("term_milli").alias("score_milli"),
            F.count(F.lit(1)).alias("matched_terms"),
        )
    )
    w = Window.orderBy(F.desc("score_milli"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _Q44_K)
        .select("rank", "doc_id", "score_milli", "matched_terms")
        .orderBy("rank")
    )


Q44_SQL = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
lens AS (SELECT doc_id, len(words) AS dl FROM base),
postings AS (
  SELECT doc_id, unnest(words) AS term FROM base),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM postings
  WHERE term IN ({", ".join(f"'{t}'" for t in _Q44_TERMS)})
  GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) * 1000 // count(*) AS BIGINT) AS avgdl_milli
  FROM lens),
parts AS (
  SELECT doc_id, term,
         CAST((n_docs - df_t + 1) * 1000 // (df_t + 1) AS BIGINT) AS idf_milli,
         CAST(dl * 1000000 // avgdl_milli AS BIGINT) AS l_milli, tf
  FROM tf JOIN dfreq USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
scored AS (
  SELECT doc_id,
         CAST(sum(idf_milli * ((tf * 2200 * 1000) //
           (tf * 1000 + (1200 * (250 + (750 * l_milli) // 1000)) // 1000))
           // 1000) AS BIGINT) AS score_milli,
         count(*) AS matched_terms
  FROM parts GROUP BY doc_id),
ranked AS (
  SELECT row_number() OVER (ORDER BY score_milli DESC, doc_id) AS rank,
         doc_id, score_milli, matched_terms
  FROM scored)
SELECT rank, doc_id, score_milli, matched_terms
FROM ranked WHERE rank <= {_Q44_K} ORDER BY rank
"""


def q45_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level corpus statistics — the per-host quota/blocklist
    primitive of web-corpus curation (CCNet / RefinedWeb style):
    canonicalize each document's crawl URL (q38's certified chain),
    extract the host, and roll up per host: page count, distinct
    canonical URLs (the URL-dup signal), total chars, and mean doc
    length in exact milli units.

    Scale shape: one scan -> native regexp host extraction -> a single
    groupBy(host); count_distinct shuffles (host, canonical_url) pairs,
    bounded by the corpus itself. Hosts are the classic skew key at
    100 TB — the aggregation is partial-agg friendly and AQE splits a
    hot host's partition."""
    from .functions.urls import canonical_url

    (docs,) = load(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            "doc_id", "n_chars",
            _Q38_URL.replace("AS VARCHAR", "AS STRING") + " AS url",
        )
        .withColumn("canonical_url", canonical_url(F.col("url")))
        .withColumn(
            "host", F.regexp_extract("canonical_url", r"^[a-z]+://([^/:?#]+)", 1)
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("canonical_url").alias("n_urls"),
            F.sum("n_chars").alias("total_chars"),
            F.expr("sum(n_chars) * 1000 div count(1)").alias("mean_chars_milli"),
        )
        .orderBy("host")
    )


Q45_SQL = f"""
WITH raw AS (SELECT doc_id, n_chars, {_Q38_URL} AS url FROM documents),
s1 AS (SELECT doc_id, n_chars, regexp_replace(url, '#.*', '', 'g') AS u1 FROM raw),
s2 AS (
  SELECT doc_id, n_chars,
    lower(regexp_extract(u1, '^([A-Za-z]+://[^/?]*)', 1)) AS head,
    substring(u1, length(regexp_extract(u1, '^([A-Za-z]+://[^/?]*)', 1)) + 1)
      AS rest
  FROM s1),
s3 AS (
  SELECT doc_id, n_chars,
    regexp_replace(regexp_replace(head, '://www\\.', '://'),
                   ':(80|443)$', '') AS head,
    regexp_replace(
      regexp_replace(
        regexp_replace(regexp_replace(rest, '([?&])(utm_[^&]*&)+', '\\1', 'g'),
                       '[?&]utm_[^&]*$', ''),
        '\\?&', '?'),
      '[?/]+$', '') AS rest
  FROM s2),
canon AS (
  SELECT doc_id, n_chars, head || rest AS canonical_url,
         regexp_extract(head || rest, '^[a-z]+://([^/:?#]+)', 1) AS host
  FROM s3)
SELECT host, count(*) AS n_pages,
       count(DISTINCT canonical_url) AS n_urls,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_chars) * 1000 // count(*) AS BIGINT) AS mean_chars_milli
FROM canon GROUP BY host ORDER BY host
"""


def q46_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in exact integer space — the
    cluster-statistics primitive behind semantic dedup and IVF
    re-training: quantize each embedding to milli (the q39-certified
    expression, order-independent integer sums), then mean each
    dimension per label.

    Scale shape: one posexplode (64 rows/vector) -> groupBy(label, pos)
    with map-side partials; output cardinality is labels x dim,
    independent of corpus size. The 100 TB form of 'recompute
    centroids from assignments' (kmeans_fit's update step is this
    exact aggregation)."""
    (emb,) = load(spark, sf_dir, "embeddings")
    q = "transform(embedding, e -> cast(round(e * 1000) as bigint))"
    return (
        emb.selectExpr("label", f"posexplode({q}) AS (pos, qe)")
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.expr("sum(qe) div count(1)").alias("mean_milli"),
        )
        .orderBy("label", "pos")
    )


Q46_SQL = """
WITH q AS (
  SELECT label,
         list_transform(embedding, e -> CAST(round(e * 1000) AS BIGINT)) AS qv
  FROM embeddings),
exploded AS (
  SELECT label, i - 1 AS pos, qv[i] AS qe
  FROM q, unnest(range(1, len(qv) + 1)) AS t(i))
SELECT label, pos, count(*) AS n_vecs,
       CAST(sum(qe) // count(*) AS BIGINT) AS mean_milli
FROM exploded GROUP BY label, pos ORDER BY label, pos
"""


_Q47_RATES = {"en": 500, "de": 1000, "fr": 250, "es": 750, "zh": 100}  # keep-rate in milli


def q47_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling — the down-weighting
    primitive for over-represented strata (languages here; the same
    shape applies to domains): each document draws a uniform bucket in
    [0, 1000) from an md5 hash of its id (q20's hex-parse parity, no
    RNG — replay/resume safe), and is kept when bucket < the stratum's
    milli rate. Output is the per-stratum audit table: population,
    kept count, configured rate, and realized rate.

    Scale shape: one scan, one groupBy(lang); the keep decision is a
    pure per-row expression (whole-stage codegen), so the sample
    itself can be taken with a WHERE — the audit aggregate here is the
    verification artifact."""
    (docs,) = load(spark, sf_dir, "documents")
    rate = "CASE " + " ".join(
        f"WHEN lang = '{k}' THEN {v}" for k, v in _Q47_RATES.items()
    ) + " ELSE 0 END"
    bucket = "cast(conv(substring(md5(cast(doc_id as string)), 1, 14), 16, 10) as bigint) % 1000"
    return (
        docs.selectExpr(
            "lang",
            f"CASE WHEN {bucket} < {rate} THEN 1 ELSE 0 END AS kept",
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
        )
        .selectExpr(
            "lang", "n_docs", "n_kept",
            f"{rate} AS rate_milli",
            "n_kept * 1000 div n_docs AS realized_milli",
        )
        .orderBy("lang")
    )


_Q47_BUCKET_DUCK = (
    "('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT % 1000"
)
_Q47_RATE_DUCK = "CASE " + " ".join(
    f"WHEN lang = '{k}' THEN {v}" for k, v in _Q47_RATES.items()
) + " ELSE 0 END"
Q47_SQL = f"""
WITH flagged AS (
  SELECT lang,
         CASE WHEN {_Q47_BUCKET_DUCK} < {_Q47_RATE_DUCK} THEN 1 ELSE 0 END AS kept
  FROM documents)
SELECT lang, count(*) AS n_docs, CAST(sum(kept) AS BIGINT) AS n_kept,
       CAST({_Q47_RATE_DUCK} AS BIGINT) AS rate_milli,
       CAST(sum(kept) * 1000 // count(*) AS BIGINT) AS realized_milli
FROM flagged GROUP BY lang ORDER BY lang
"""


_Q48_ITERS = 3


def q48_host_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph centrality — crawl-prioritization PageRank in exact
    integer milli arithmetic (damping 0.85; _Q48_ITERS fixed power
    iterations, unrolled identically in the oracle). The link graph is
    synthesized deterministically from doc ids with the same literal
    SQL on both sides: src = doc_id % 50 with two quadratic-map
    out-links per document (an affine map mod 50 would make every
    host's in-flow exactly its own rank — a degenerate regular graph
    where power iteration is a fixed point at t=0), parallel edges
    collapsing to integer weights.

    Scale shape: each iteration is one equi-join of the rank vector
    (|hosts| rows) against the weighted edge list + one groupBy(dst)
    with map-side partials — the standard Pregel-free DataFrame
    PageRank; edges partition once and re-use, ranks are the only
    moving rows. Dangling hosts keep the teleport floor."""
    (docs,) = load(spark, sf_dir, "documents")
    edges = (
        docs.selectExpr(
            "doc_id % 50 AS src",
            "explode(array((doc_id * doc_id * 3 + doc_id * 7 + 3) % 50, "
            "(doc_id * doc_id * 5 + doc_id * 11 + 7) % 50)) AS dst",
        )
        .where("src != dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    ew = edges.join(outw, "src")
    hosts = docs.selectExpr("doc_id % 50 AS host").distinct()
    rank = hosts.select("host", F.lit(1000).alias("rank_milli"))
    for _ in range(_Q48_ITERS):
        contrib = (
            ew.join(rank.withColumnRenamed("host", "src"), "src")
            .selectExpr("dst AS host", "rank_milli * w div outw AS c")
            .groupBy("host")
            .agg(F.sum("c").alias("inflow"))
        )
        rank = (
            hosts.join(contrib, "host", "left")
            .selectExpr(
                "host",
                "150 + 850 * coalesce(inflow, 0) div 1000 AS rank_milli",
            )
        )
    return rank.orderBy("host")


def _q48_sql_iter(prev: str, cur: str) -> str:
    return f"""
{cur} AS (
  SELECT h.host,
         150 + 850 * coalesce(sum(p.rank_milli * e.w // e.outw), 0) // 1000
           AS rank_milli
  FROM hosts h
  LEFT JOIN ew e ON e.dst = h.host
  LEFT JOIN {prev} p ON p.host = e.src
  GROUP BY h.host)"""


Q48_SQL = f"""
WITH raw AS (
  SELECT doc_id % 50 AS src,
         unnest([(doc_id * doc_id * 3 + doc_id * 7 + 3) % 50,
                 (doc_id * doc_id * 5 + doc_id * 11 + 7) % 50]) AS dst
  FROM documents),
edges AS (
  SELECT src, dst, count(*) AS w FROM raw WHERE src != dst GROUP BY src, dst),
outw AS (SELECT src, sum(w) AS outw FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, e.w, o.outw FROM edges e JOIN outw o USING (src)),
hosts AS (SELECT DISTINCT doc_id % 50 AS host FROM documents),
r0 AS (SELECT host, 1000 AS rank_milli FROM hosts),
{",".join(_q48_sql_iter(f"r{i}", f"r{i + 1}") for i in range(_Q48_ITERS))}
SELECT host, CAST(rank_milli AS BIGINT) AS rank_milli
FROM r{_Q48_ITERS} ORDER BY host
"""


from .functions.pii import EMAIL_RE as _PII_EMAIL
from .functions.pii import IPV4_RE as _PII_IP
from .functions.pii import PHONE_RE as _PII_PHONE

# PII is planted deterministically from doc_id with the same literal SQL
# on both sides (the q38/q39 pattern — the synthetic corpus carries no
# real PII, so matches must be constructed for the oracle to certify
# non-trivial counts and redactions).
_Q49_TEXT = (
    "concat(text,"
    " CASE WHEN doc_id % 5 = 0 THEN concat(' contact user',"
    " CAST(doc_id AS VARCHAR), '@mail', CAST(doc_id % 7 AS VARCHAR),"
    " '.example.com now') ELSE '' END,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' from 10.',"
    " CAST(doc_id % 256 AS VARCHAR), '.0.', CAST(doc_id % 100 AS VARCHAR),"
    " ' logged') ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN concat(' call 555-',"
    " lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',"
    " lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' today')"
    " ELSE '' END)"
)


def q49_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the standard pre-training redaction pass (C4,
    RefinedWeb, Dolma): per-document e-mail / IPv4 / phone counts plus
    the md5 + length of the redacted text (``functions/pii`` — pure
    native regexp column expressions, whole-stage codegen).

    Scale shape: a per-row map with ZERO shuffle beyond the final
    presentation orderBy — at 100 TB it rides the scan that already
    reads the text column; patterns stay in the shared Java-regex/RE2
    subset so the identical strings run in the DuckDB oracle. The
    redaction order (e-mail -> IPv4 -> phone) is part of the contract
    and mirrored in the oracle."""
    from .functions.pii import (
        pii_email_count,
        pii_ipv4_count,
        pii_phone_count,
        redact_pii,
    )

    (docs,) = load(spark, sf_dir, "documents")
    planted = docs.selectExpr(
        "doc_id", _Q49_TEXT.replace("AS VARCHAR", "AS STRING") + " AS txt"
    )
    red = redact_pii(F.col("txt"))
    return (
        planted.select(
            "doc_id",
            pii_email_count(F.col("txt")).alias("n_email"),
            pii_ipv4_count(F.col("txt")).alias("n_ipv4"),
            pii_phone_count(F.col("txt")).alias("n_phone"),
            F.length(red).cast("long").alias("redacted_len"),
            F.md5(red).alias("redacted_md5"),
        )
        .orderBy("doc_id")
    )


Q49_SQL = f"""
WITH planted AS (SELECT doc_id, {_Q49_TEXT} AS txt FROM documents),
red AS (
  SELECT doc_id, txt,
    regexp_replace(regexp_replace(regexp_replace(txt,
      '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_IP}', '<IP>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g') AS r
  FROM planted)
SELECT doc_id,
  CAST(len(regexp_extract_all(txt, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(txt, '{_PII_IP}')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(txt, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
  CAST(length(r) AS BIGINT) AS redacted_len,
  md5(r) AS redacted_md5
FROM red ORDER BY doc_id
"""


def q50_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (union + ordered-window scan, one shuffle): each
    purchase attaches the user's latest click at-or-before it, 24 h
    lookback, equal-ts ties to the largest click id. The oracle is the
    independent quadratic formulation (inequality join + row_number), so
    agreement certifies the linear plan, not a mirrored query."""
    from pvt_spark.operators.temporal import asof_join

    (events,) = load(spark, sf_dir, "events")
    ev = events.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("us").alias("purchase_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "us"
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="purchase_us",
        right_ts="us",
        right_cols=["click_id"],
        tie="click_id",
        tolerance_us=86_400_000_000,
    )
    return out.select(
        "purchase_id",
        "user_id",
        "purchase_us",
        F.col("matched_click_id").alias("click_id"),
        F.col("matched_us").alias("click_us"),
        (F.col("purchase_us") - F.col("matched_us")).alias("lag_us"),
    ).orderBy("purchase_id")


Q50_SQL = """
WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'),
m AS (
  SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_id, c.cus,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.cus DESC, c.click_id DESC) AS rn
  FROM p JOIN c ON c.user_id = p.user_id
   AND c.cus <= p.purchase_us AND c.cus >= p.purchase_us - 86400000000)
SELECT purchase_id, user_id, purchase_us,
       click_id, cus AS click_us, purchase_us - cus AS lag_us
FROM m WHERE rn = 1
UNION ALL
SELECT purchase_id, user_id, purchase_us,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM m)
ORDER BY purchase_id
"""


def q51_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded interval join (equi-join on (key, time band) + residual
    BETWEEN): per signup, clicks of the same user inside [ts, ts+72h] —
    count and exact cents. Bands make the inequality join an equi-join
    with bounded fan-out; the oracle is the plain quadratic inequality
    join, certifying the banding produces each pair exactly once."""
    from pvt_spark.operators.temporal import range_join_points

    (events,) = load(spark, sf_dir, "events")
    ev = events.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("us").alias("lo"),
        (F.col("us") + F.lit(72 * 3600 * 1_000_000)).alias("hi"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("us").alias("click_us"),
        F.round(F.col("value") * 100).cast("long").alias("click_cents"),
    )
    pairs = range_join_points(
        clicks,
        signups,
        on=["user_id"],
        point_ts="click_us",
        lo="lo",
        hi="hi",
        band_us=6 * 3600 * 1_000_000,
    )
    agg = pairs.groupBy("signup_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("click_cents").alias("click_cents"),
    )
    return (
        signups.select("signup_id", "user_id")
        .join(agg, ["signup_id", "user_id"], "left")
        .select(
            "signup_id",
            "user_id",
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("click_cents", F.lit(0)).alias("click_cents"),
        )
        .orderBy("signup_id")
    )


Q51_SQL = """
WITH s AS (SELECT event_id AS signup_id, user_id, epoch_us(ts) AS lo,
                  epoch_us(ts) + 259200000000 AS hi
           FROM events WHERE event_type = 'signup'),
c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus,
             CAST(round(value*100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'click')
SELECT s.signup_id, s.user_id,
       count(c.click_id) AS n_clicks,
       CAST(coalesce(sum(c.cents), 0) AS BIGINT) AS click_cents
FROM s LEFT JOIN c
  ON c.user_id = s.user_id AND c.cus BETWEEN s.lo AND s.hi
GROUP BY s.signup_id, s.user_id
ORDER BY s.signup_id
"""


_Q52_GX = "2000000000 + ({key} * 2654435761) % 2097152"
_Q52_GY = "2000000000 + ({key} * 2246822519) % 2097152"


def q52_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self radius join (2D banded join): per-customer neighbor stats over
    all pairs within planar distance 200k on the u32 grid. The operator
    buckets space into Hilbert tiles sized >= the radius (radius_zoom ->
    z14 here), shuffle equi-joins point tiles against 3x3 probe rings,
    and keeps the residual d2 <= r^2 — each pair produced exactly once
    per direction. The oracle is the independent quadratic inequality
    self-join, certifying the tiling produces every pair and no
    duplicates."""
    from .functions.geo import xy_to_hilbert_h
    from .operators.knn import radius_join_per_tile

    (cust,) = load(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("feature_id"),
        F.expr(_Q52_GX.format(key="c_custkey")).alias("gx"),
        F.expr(_Q52_GY.format(key="c_custkey")).alias("gy"),
    ).withColumn("h", xy_to_hilbert_h(F.col("gx"), F.col("gy")))
    qs = pts.select(F.col("feature_id").alias("query_id"), "gx", "gy", "h")
    pairs = radius_join_per_tile(
        pts, qs, radius=200_000, grid_cols=("gx", "gy"), exclude_self=True
    )
    return (
        pairs.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.min("d2").alias("min_d2"),
            F.sum("d2").alias("sum_d2"),
        )
        .select(F.col("query_id").alias("custkey"), "n_within", "min_d2", "sum_d2")
        .orderBy("custkey")
    )


Q52_SQL = f"""
WITH pts AS (
  SELECT c_custkey AS id,
         CAST({_Q52_GX.format(key="c_custkey")} AS BIGINT) AS gx,
         CAST({_Q52_GY.format(key="c_custkey")} AS BIGINT) AS gy
  FROM customer)
SELECT a.id AS custkey,
       count(*) AS n_within,
       min((a.gx-b.gx)*(a.gx-b.gx) + (a.gy-b.gy)*(a.gy-b.gy)) AS min_d2,
       CAST(sum((a.gx-b.gx)*(a.gx-b.gx) + (a.gy-b.gy)*(a.gy-b.gy)) AS BIGINT)
         AS sum_d2
FROM pts a JOIN pts b
  ON b.id <> a.id
 AND (a.gx-b.gx)*(a.gx-b.gx) + (a.gy-b.gy)*(a.gy-b.gy) <= 40000000000
GROUP BY a.id
ORDER BY custkey
"""


def q53_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language document-length quantiles (p25/p50/p75/p95)
    via the histogram path (operators/stats.group_quantiles): one
    groupBy shuffle with map-side partials builds the (lang, n_chars)
    histogram; the cumulative scan + rank probe run over the histogram,
    not the corpus. Discrete semantics (value at rank ceil(q*n)) with
    identical integer arithmetic in the DuckDB oracle."""
    from .operators.stats import group_quantiles

    (docs,) = load(spark, sf_dir, "documents")
    return (
        group_quantiles(docs, key="lang", value="n_chars", qs_milli=[250, 500, 750, 950])
        .orderBy("lang", "q_milli")
    )


Q53_SQL = """
WITH g AS (SELECT lang, n_chars, count(*) AS cnt FROM documents GROUP BY 1, 2),
c AS (SELECT lang, n_chars, cnt,
             sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
      FROM g),
t AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
q AS (SELECT unnest([250, 500, 750, 950]) AS q_milli),
r AS (SELECT t.lang, q.q_milli, (q.q_milli * t.n + 999) // 1000 AS rnk
      FROM t CROSS JOIN q)
SELECT r.lang, r.q_milli, c.n_chars AS value
FROM r JOIN c ON c.lang = r.lang AND c.cum >= r.rnk AND c.cum - c.cnt < r.rnk
ORDER BY r.lang, r.q_milli
"""


_Q54_RECT = (
    "conv(substring(md5(concat('{ax}', cast(p_partkey as string))), 1, 12), 16, 10)"
)


def q54_mbr_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MBR overlap self-join over planted rectangles (PBSM banding +
    reference-point dedup, operators/spatial.mbr_overlap_join): grid
    cells of 65536, each rect explodes to its covered cells (bounded
    fan-out), equi-join on the cell, closed-interval residual, pair
    emitted only in the cell holding the intersection's lower-left
    corner — exactly once, no distinct pass. Oracle: the quadratic
    inequality self-join."""
    from .operators.spatial import mbr_overlap_join

    (part,) = load(spark, sf_dir, "part")
    hx = _Q54_RECT.format(ax="x")
    hy = _Q54_RECT.format(ax="y")
    hw = "conv(substring(md5(concat('w', cast(p_partkey as string))), 1, 8), 16, 10)"
    hh = "conv(substring(md5(concat('h', cast(p_partkey as string))), 1, 8), 16, 10)"
    rects = part.select(
        F.col("p_partkey").alias("id"),
        F.expr(f"cast({hx} as bigint) % 2097152").alias("x_lo"),
        F.expr(f"cast({hy} as bigint) % 2097152").alias("y_lo"),
        F.expr(f"cast({hw} as bigint) % 80000 + 20000").alias("w"),
        F.expr(f"cast({hh} as bigint) % 80000 + 20000").alias("h"),
    ).select(
        "id",
        "x_lo",
        "y_lo",
        (F.col("x_lo") + F.col("w")).alias("x_hi"),
        (F.col("y_lo") + F.col("h")).alias("y_hi"),
    )
    pairs = mbr_overlap_join(rects, rects, cell=65536, anti_reflexive=True)
    return pairs.select(
        "a_id",
        "b_id",
        ((F.col("ix_hi") - F.col("ix_lo") + 1) * (F.col("iy_hi") - F.col("iy_lo") + 1)).alias(
            "overlap_area"
        ),
    ).orderBy("a_id", "b_id")


Q54_SQL = """
WITH r AS (SELECT p_partkey AS id,
  ('0x' || substring(md5('x' || p_partkey::VARCHAR), 1, 12))::BIGINT % 2097152 AS x_lo,
  ('0x' || substring(md5('y' || p_partkey::VARCHAR), 1, 12))::BIGINT % 2097152 AS y_lo,
  20000 + ('0x' || substring(md5('w' || p_partkey::VARCHAR), 1, 8))::BIGINT % 80000 AS w,
  20000 + ('0x' || substring(md5('h' || p_partkey::VARCHAR), 1, 8))::BIGINT % 80000 AS h
  FROM part),
rr AS (SELECT id, x_lo, y_lo, x_lo + w AS x_hi, y_lo + h AS y_hi FROM r)
SELECT a.id AS a_id, b.id AS b_id,
       (least(a.x_hi, b.x_hi) - greatest(a.x_lo, b.x_lo) + 1)
     * (least(a.y_hi, b.y_hi) - greatest(a.y_lo, b.y_lo) + 1) AS overlap_area
FROM rr a JOIN rr b
  ON b.id > a.id
 AND a.x_lo <= b.x_hi AND b.x_lo <= a.x_hi
 AND a.y_lo <= b.y_hi AND b.y_lo <= a.y_hi
ORDER BY a_id, b_id
"""


def q55_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 longest documents per language via the salted
    two-phase selection (operators/stats.topk_per_group): per-(lang,
    salt) local top-k, then a k*n_salts-bounded merge — no per-language
    single-reducer window over raw rows. Oracle: the plain row_number
    formulation, certifying the salted plan selects the identical rows
    and ranks."""
    from .operators.stats import topk_per_group

    (docs,) = load(spark, sf_dir, "documents")
    return (
        topk_per_group(docs, key="lang", order="n_chars", tie="doc_id", k=5)
        .orderBy("lang", "rank")
    )


Q55_SQL = """
WITH r AS (
  SELECT lang, n_chars, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id ASC) AS rank
  FROM documents)
SELECT lang, rank, n_chars, doc_id FROM r WHERE rank <= 5
ORDER BY lang, rank
"""


def q56_streaming_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING as-of join, value-certified: purchases/clicks from
    the events table replay as a tagged file stream through
    streaming/asof.asof_join_stream (availableNow, checkpointed), then a
    clock row far past every event advances the watermark so every left
    row finalizes. The emitted set is then exactly the batch as-of
    answer — so the independent quadratic SQL oracle certifies the
    stateful streaming operator itself (watermark emission, state
    carry-over, right-buffer eviction with floor)."""
    import shutil
    import tempfile

    from .streaming.asof import asof_join_stream

    (events,) = load(spark, sf_dir, "events")
    ev = events.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
    tagged = ev.where(F.col("event_type").isin("purchase", "click")).select(
        F.col("user_id").cast("string").alias("key"),
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(0).alias("tag"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("event_id").alias("id"),
    )
    root = tempfile.mkdtemp(prefix="pvt_q56_")
    # State-store partitions are a per-batch FIXED cost (one state task
    # + checkpoint delta file per partition per micro-batch); this query
    # owns a fresh checkpoint, so pin them to the key-count scale of the
    # fixture (~1k user keys) instead of the session-wide default sized
    # for corpus shuffles. Identical results — partitioning never
    # changes the as-of semantics — and the same 16-partition choice the
    # rate-controlled streaming bench documents (128 measured 6x slower
    # on identical input).
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        src, out, ck = f"{root}/src", f"{root}/out", f"{root}/ck"
        tagged.write.mode("overwrite").parquet(src)

        def run_once():
            s = spark.readStream.schema(
                "key string, tag int, ts timestamp, id long"
            ).parquet(src)
            q = (
                asof_join_stream(s, watermark="24 hours")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()  # ingest; everything pends behind the watermark
        max_us = ev.agg(F.max("us")).collect()[0][0]
        clock_us = (max_us if max_us is not None else 0) + 365 * 86_400_000_000
        local_frame(
            spark, [("__clock__", 0, clock_us)], "key string, tag int, us long"
        ).select(
            "key", "tag", F.timestamp_micros(F.col("us")).alias("ts"),
            F.lit(0).cast("long").alias("id"),
        ).write.mode("append").parquet(src)
        run_once()  # watermark passes every real event: all lefts finalize
        # null-safe: a NULL-keyed left (never in this fixture, but part of
        # the operator contract) must not be silently dropped here
        got = spark.read.parquet(out).where(~F.col("key").eqNullSafe("__clock__"))
        return (
            got.select(
                F.col("left_id").alias("purchase_id"),
                F.col("key").cast("long").alias("user_id"),
                F.col("left_us").alias("purchase_us"),
                F.col("matched_tie").alias("click_id"),
                F.col("matched_us").alias("click_us"),
            )
            .orderBy("purchase_id")
            .localCheckpoint(eager=True)  # survive the tmpdir cleanup below
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        shutil.rmtree(root, ignore_errors=True)


Q56_SQL = """
WITH p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS purchase_us
           FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
      FROM events WHERE event_type = 'click'),
m AS (
  SELECT p.purchase_id, p.user_id, p.purchase_us, c.click_id, c.cus,
         row_number() OVER (PARTITION BY p.purchase_id
                            ORDER BY c.cus DESC, c.click_id DESC) AS rn
  FROM p JOIN c ON c.user_id = p.user_id AND c.cus <= p.purchase_us)
SELECT purchase_id, user_id, purchase_us,
       click_id, cus AS click_us
FROM m WHERE rn = 1
UNION ALL
SELECT purchase_id, user_id, purchase_us,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM p WHERE purchase_id NOT IN (SELECT purchase_id FROM m)
ORDER BY purchase_id
"""


def q57_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mutual (reciprocal) nearest neighbors — the D4/SemDeDup
    family's pairing primitive — through the production operator
    (operators/dedup.mutual_nearest_pairs): embeddings quantized to
    integer milli (the q39-certified idiom), per-label top-1 under
    exact integer squared-L2 (ties to the smallest id), pair kept only
    if reciprocal. The oracle recomputes the whole ladder quadratically
    in DuckDB."""
    from .operators.dedup import mutual_nearest_pairs

    (emb,) = load(spark, sf_dir, "embeddings")
    q = "transform(embedding, e -> cast(round(e * 1000) as bigint))"
    vecs = emb.select("label", "vec_id", F.expr(q).alias("qv"))
    return (
        mutual_nearest_pairs(vecs, group="label")
        .select("label", "a_id", "b_id", "d2")
        .orderBy("label", "a_id")
    )


Q57_SQL = """
WITH v AS (
  SELECT label, vec_id,
         list_transform(embedding, e -> CAST(round(e * 1000) AS BIGINT)) AS qv
  FROM embeddings),
pairs AS (
  SELECT a.label, a.vec_id AS aid, b.vec_id AS bid,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS BIGINT) AS d2
  FROM v a JOIN v b ON a.label = b.label AND a.vec_id <> b.vec_id),
nn AS (
  SELECT label, aid, bid, d2,
         row_number() OVER (PARTITION BY label, aid ORDER BY d2, bid) AS rk
  FROM pairs)
SELECT n1.label AS label, n1.aid AS a_id, n1.bid AS b_id, n1.d2
FROM nn n1 JOIN nn n2
  ON n1.label = n2.label AND n1.aid = n2.bid AND n1.bid = n2.aid
 AND n1.rk = 1 AND n2.rk = 1
WHERE n1.aid < n1.bid
ORDER BY n1.label, n1.aid
"""


def q58_asof_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q50's backward as-of join through the HOT-KEY PRE-SPLIT path
    (``operators/temporal.asof_join`` with ``split_threshold``): keys
    above the threshold window per (key, ts-bucket) with boundary-carry
    stitching instead of per key, so one pathological key parallelizes
    across buckets. Certified against q50's independent quadratic
    oracle (the q34/q13 pattern: same answer, different physical plan —
    at sf0.01 the 20-row threshold makes most user keys take the
    bucketed path, sf0.001 exercises the mixed hot/cold plan)."""
    from pvt_spark.operators.temporal import asof_join

    (events,) = load(spark, sf_dir, "events")
    ev = events.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("us").alias("purchase_us")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "us"
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="purchase_us",
        right_ts="us",
        right_cols=["click_id"],
        tie="click_id",
        tolerance_us=86_400_000_000,
        split_threshold=20,
        n_buckets=8,
    )
    return out.select(
        "purchase_id",
        "user_id",
        "purchase_us",
        F.col("matched_click_id").alias("click_id"),
        F.col("matched_us").alias("click_us"),
        (F.col("purchase_us") - F.col("matched_us")).alias("lag_us"),
    ).orderBy("purchase_id")


Q59_MERGES = 48
Q59_TRAIN_DOCS = 200


def q59_bpe_subword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned merge-table BPE over documents (``functions/bpe.py``):
    merges learned from the first ``Q59_TRAIN_DOCS`` docs (one
    word-count shuffle + driver loop over the tiny frequency table),
    then every document encoded map-side (broadcast rank table,
    memoized pandas UDF). Output: per-doc subword count + distinct
    subword count. The oracle replays the SAME deterministic learn rule
    with an independently-written scalar implementation (Counter-based
    learning; one-occurrence-at-a-time encoding — equivalent because a
    pair containing a merged symbol always ranks after the merge that
    created it) and pins the result as a VALUES table, the q30
    input-dependent-oracle pattern."""
    from pvt_spark.functions.bpe import bpe_encode, bpe_learn

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_learn(docs.where(F.col("doc_id") < Q59_TRAIN_DOCS), Q59_MERGES)
    enc = bpe_encode(docs, merges, text_col="text", out_col="toks")
    return enc.select(
        "doc_id",
        F.size("toks").alias("n_subwords"),
        F.size(F.array_distinct("toks")).alias("n_unique_subwords"),
    ).orderBy("doc_id")


def _q59_ref_rows(sf_dir: str) -> list[tuple[int, int, int]]:
    """Independent scalar BPE replay for the q59 oracle: Counter-based
    pair statistics, leftmost-single-occurrence merging at encode time
    (vs the engine's merge-all-occurrences pandas kernel)."""
    from collections import Counter

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    con.close()
    wf = Counter(
        w
        for d, t in rows
        if d < Q59_TRAIN_DOCS and t
        for w in t.lower().split()
    )
    vocab = Counter()
    for w, f in wf.items():
        vocab[tuple(w)] += f
    merges = []
    for _ in range(Q59_MERGES):
        pc = Counter()
        for syms, f in vocab.items():
            for p in zip(syms, syms[1:]):
                pc[p] += f
        if not pc:
            break
        (a, b), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if cnt < 2:
            break
        merges.append((a, b))
        nv = Counter()
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] += f
        vocab = nv
    ranks = {p: i for i, p in enumerate(merges)}

    cache: dict[str, list[str]] = {}

    def enc_word(w: str) -> list[str]:
        got = cache.get(w)
        if got is not None:
            return got
        parts = list(w)
        while True:
            cand = [
                (ranks[p], i)
                for i, p in enumerate(zip(parts, parts[1:]))
                if p in ranks
            ]
            if not cand:
                break
            _, i = min(cand)
            parts[i : i + 2] = [parts[i] + parts[i + 1]]
        cache[w] = parts
        return parts

    out_rows = []
    for d, t in rows:
        toks = [s for w in (t.lower().split() if t else []) for s in enc_word(w)]
        out_rows.append((d, len(toks), len(set(toks))))
    return out_rows


def q59_sql(sf_dir: str) -> str:
    """DuckDB oracle for q59: the independent scalar replay's per-doc
    counts as a VALUES table (input-dependent oracle, q30 pattern)."""
    vals = ",\n".join(f"({d}, {n}, {u})" for d, n, u in _q59_ref_rows(sf_dir))
    return (
        "SELECT * FROM (VALUES\n"
        + vals
        + "\n) AS t(doc_id, n_subwords, n_unique_subwords)\nORDER BY doc_id"
    )


def q60_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup (``operators/bloom.py``):
    batch docs (doc_id % 4 == 3) dedup against the resident corpus
    (the rest) on a 3-word text-prefix key. The filter builds in one
    resident scan (partial bitmaps per partition, driver OR) and the
    batch probes it map-side; only the might-contain sliver takes the
    exact anti-join. exact=True makes the result EQUAL to the plain
    LEFT ANTI JOIN — which is the oracle — while the steady-state
    streaming mode (exact=False, tested in test_bloom) never touches
    the resident table per batch."""
    from pvt_spark.operators.bloom import bloom_build, bloom_new_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = docs.select(
        "doc_id",
        F.array_join(F.slice(F.split(F.col("text"), " "), 1, 3), " ").alias(
            "pfx"
        ),
    )
    batch = d.where(F.col("doc_id") % 4 == 3)
    resident = d.where(F.col("doc_id") % 4 != 3)
    bloom = bloom_build(resident, "pfx", expected=400, fpp=0.01)
    new = bloom_new_rows(batch, resident, "pfx", bloom=bloom, exact=True)
    return new.select("doc_id", "pfx").orderBy("doc_id")


Q60_SQL = """
WITH d AS (
  SELECT doc_id,
         array_to_string((string_split(text, ' '))[1:3], ' ') AS pfx
  FROM documents),
b AS (SELECT * FROM d WHERE doc_id % 4 = 3),
r AS (SELECT pfx FROM d WHERE doc_id % 4 <> 3)
SELECT doc_id, pfx
FROM b
WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.pfx = b.pfx)
ORDER BY doc_id
"""


Q61_M, Q61_KSUB, Q61_ITERS, Q61_K = 8, 16, 2, 5


def q61_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (``operators/pq.py``): integer PQ
    codebooks trained over the milli-quantized embeddings (md5-ordered
    deterministic init, integer Lloyd updates — bit-identical across
    partitionings), every vector encoded to m=8 code ids, then ADC
    top-5 for the vec_id%100==7 queries via per-query integer lookup
    tables. The oracle replays the ENTIRE ladder (init, 2 Lloyd
    rounds, encode, ADC, top-k) with an independently-written scalar
    twin and pins the result as VALUES (q30/q59 pattern) — certifying
    the compressed-domain search exactly, not approximately."""
    from .operators.pq import pq_adc_topk, pq_encode, pq_train, quantize_expr

    (emb,) = load(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id", F.expr(quantize_expr("embedding")).alias("qv")
    )
    cb = pq_train(qv, m=Q61_M, ksub=Q61_KSUB, iters=Q61_ITERS)
    codes = pq_encode(qv, cb).select("vec_id", "codes")
    queries = qv.where(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), "qv"
    )
    return (
        pq_adc_topk(codes, cb, queries, k=Q61_K)
        .select("query_id", "rank", "vec_id", "adc_d2")
        .orderBy("query_id", "rank")
    )


def _q61_ref_rows(sf_dir: str) -> list[tuple[int, int, int, int]]:
    """Independent scalar PQ replay for the q61 oracle: pure-python
    integer Lloyd/encode/ADC over DuckDB-quantized vectors (DuckDB does
    the milli rounding so the integer domain is the certified one)."""
    import hashlib

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, list_transform(embedding,"
        " e -> CAST(round(e * 1000) AS BIGINT)) AS qv"
        f" FROM '{sf_dir}/embeddings.parquet' ORDER BY vec_id"
    ).fetchall()
    con.close()
    m, ksub, iters, k = Q61_M, Q61_KSUB, Q61_ITERS, Q61_K
    vecs = {int(v): [int(x) for x in e] for v, e in rows}
    d = len(next(iter(vecs.values())))
    dsub = d // m
    init_ids = sorted(
        vecs, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[: ksub]
    cb = [
        [vecs[i][j * dsub : (j + 1) * dsub] for i in init_ids]
        for j in range(m)
    ]

    def assign(vec):
        out = []
        for j in range(m):
            vj = vec[j * dsub : (j + 1) * dsub]
            best_d, best_c = None, None
            for c, cent in enumerate(cb[j]):
                dd = sum((a - b) * (a - b) for a, b in zip(vj, cent))
                if best_d is None or dd < best_d:
                    best_d, best_c = dd, c
            out.append(best_c)
        return out

    for _ in range(iters):
        sums: dict = {}
        for vec in vecs.values():
            for j, c in enumerate(assign(vec)):
                sv, n = sums.setdefault((j, c), ([0] * dsub, [0]))
                for t in range(dsub):
                    sv[t] += vec[j * dsub + t]
                n[0] += 1
        for (j, c), (sv, n) in sums.items():
            cb[j][c] = [
                (abs(s) // n[0] if s >= 0 else -(abs(s) // n[0])) for s in sv
            ]
    codes = {v: assign(vec) for v, vec in vecs.items()}
    out = []
    for q in sorted(v for v in vecs if v % 100 == 7):
        qvec = vecs[q]
        lut = [
            [
                sum(
                    (qvec[j * dsub + t] - cb[j][c][t]) ** 2
                    for t in range(dsub)
                )
                for c in range(len(cb[j]))
            ]
            for j in range(m)
        ]
        scored = sorted(
            (sum(lut[j][codes[v][j]] for j in range(m)), v) for v in vecs
        )
        for rank, (d2, v) in enumerate(scored[:k], 1):
            out.append((q, rank, v, d2))
    return out


def q61_sql(sf_dir: str) -> str:
    """DuckDB oracle for q61: the scalar PQ replay pinned as VALUES."""
    vals = ",\n".join(
        f"({q}, {r}, {v}, {d2})" for q, r, v, d2 in _q61_ref_rows(sf_dir)
    )
    return (
        "SELECT * FROM (VALUES\n"
        + vals
        + "\n) AS t(query_id, rank, vec_id, adc_d2)\nORDER BY query_id, rank"
    )


def q62_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph triangle counts (``operators/graph.triangle_count``):
    the q48 quadratic-map link graph, undirected-simplified, counted by
    degree orientation — each triangle exactly once, wedge fan-out
    bounded by oriented out-degree (no hub explosion). The oracle
    re-derives the same graph with the same literal SQL and counts
    triangles with a plain three-way self-join on id order (a DIFFERENT
    enumeration order — the triangle set is orientation-invariant)."""
    from .operators.graph import triangle_count

    (docs,) = load(spark, sf_dir, "documents")
    edges = docs.selectExpr(
        "doc_id % 50 AS src",
        "explode(array((doc_id * doc_id * 3 + doc_id * 7 + 3) % 50, "
        "(doc_id * doc_id * 5 + doc_id * 11 + 7) % 50)) AS dst",
    ).where("src != dst")
    return triangle_count(edges).orderBy("node")


Q62_SQL = """
WITH raw AS (
  SELECT doc_id % 50 AS src,
         unnest([(doc_id * doc_id * 3 + doc_id * 7 + 3) % 50,
                 (doc_id * doc_id * 5 + doc_id * 11 + 7) % 50]) AS dst
  FROM documents),
e AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM raw WHERE src <> dst),
t AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
n AS (
  SELECT x AS node FROM t
  UNION ALL SELECT y FROM t
  UNION ALL SELECT z FROM t)
SELECT node, COUNT(*) AS triangles FROM n GROUP BY node ORDER BY node
"""


def q63_daily_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type daily resample with zero-filled gaps and forward
    fill (``operators/temporal.resample_daily``): every (type, day) of
    the global span, n_events + exact milli value sums, empty days
    carrying the last non-empty day's sum. The oracle runs the SAME
    carry-group ladder over a generate_series grid in DuckDB."""
    from .operators.temporal import resample_daily

    (events,) = load(spark, sf_dir, "events")
    return (
        resample_daily(events, "event_type", "ts", "value")
        .select(
            F.col("key").alias("event_type"),
            F.col("day").cast("string").alias("day"),
            "n_events",
            "sum_value_milli",
            "filled_sum_milli",
        )
        .orderBy("event_type", "day")
    )


Q63_SQL = """
WITH pd AS (
  SELECT event_type AS key, CAST(ts AS DATE) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1, 2),
span AS (SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
         FROM events),
grid AS (
  SELECT k.key, g.day
  FROM (SELECT DISTINCT event_type AS key FROM events) k,
       (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        FROM span) g),
filled AS (
  SELECT grid.key, grid.day,
         COALESCE(pd.n_events, 0) AS n_events,
         COALESCE(pd.s, 0) AS sum_value_milli
  FROM grid LEFT JOIN pd ON pd.key = grid.key AND pd.day = grid.day),
grp AS (
  SELECT *, SUM(CASE WHEN n_events > 0 THEN 1 ELSE 0 END)
              OVER (PARTITION BY key ORDER BY day
                    ROWS UNBOUNDED PRECEDING) AS g
  FROM filled)
SELECT key AS event_type, CAST(day AS VARCHAR) AS day,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(sum_value_milli AS BIGINT) AS sum_value_milli,
       CAST(COALESCE(MAX(CASE WHEN n_events > 0 THEN sum_value_milli END)
                       OVER (PARTITION BY key, g), 0) AS BIGINT)
         AS filled_sum_milli
FROM grp
ORDER BY event_type, day
"""


def q64_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel view -> click -> purchase
    (``operators/temporal.funnel_steps``): per user the earliest
    completion chain (each step's ts is the min of its type strictly
    after the previous step), emitting users who reached step 1 with
    per-step micros and the completion lag. The oracle runs the same
    min-after-frontier ladder in DuckDB."""
    from .operators.temporal import funnel_steps

    (events,) = load(spark, sf_dir, "events")
    out = funnel_steps(events, ["view", "click", "purchase"])
    return out.select(
        F.col("key").alias("user_id"),
        "step_1_us",
        "step_2_us",
        "step_3_us",
        (F.col("step_3_us") - F.col("step_1_us")).alias("funnel_lag_us"),
    ).orderBy("user_id")


Q64_SQL = """
WITH base AS (
  SELECT user_id AS key, event_type AS t, epoch_us(ts) AS us FROM events),
s1 AS (
  SELECT key, MIN(us) AS step_1_us FROM base WHERE t = 'view' GROUP BY key),
s2 AS (
  SELECT b.key, MIN(b.us) AS step_2_us
  FROM base b JOIN s1 ON s1.key = b.key
  WHERE b.t = 'click' AND b.us > s1.step_1_us GROUP BY b.key),
s3 AS (
  SELECT b.key, MIN(b.us) AS step_3_us
  FROM base b JOIN s2 ON s2.key = b.key
  WHERE b.t = 'purchase' AND b.us > s2.step_2_us GROUP BY b.key)
SELECT s1.key AS user_id, s1.step_1_us, s2.step_2_us, s3.step_3_us,
       s3.step_3_us - s1.step_1_us AS funnel_lag_us
FROM s1 LEFT JOIN s2 ON s2.key = s1.key LEFT JOIN s3 ON s3.key = s1.key
ORDER BY user_id
"""


def lm_surprise_scores(
    docs: DataFrame,
    train_docs: int = 200,
    max_unigrams: int | None = None,
    max_bigrams: int | None = None,
) -> DataFrame:
    """CCNet-style integer bigram-LM surprise scoring (the q65 engine,
    reusable with caps).

    ``max_unigrams``/``max_bigrams`` (VERDICT r5 item 5): top-K-by-
    frequency caps on the broadcast count tables, deterministic
    ``(-count, key)`` order. The Heaps-law argument that makes the
    tables "vocabulary-sized" fails on adversarial corpora (random
    hex/base64 makes them corpus-sized and the broadcast a driver OOM);
    with a cap, words/bigrams beyond the top K count as UNSEEN
    (c1 = 0 / c12 = 0 -> maximum surprise), which is the conservative
    direction for a quality filter: garbage that blew the vocabulary
    scores as improbable. The declared q65 passes None (exact historical
    semantics; its fixture corpus is natural text)."""
    words = docs.select(
        "doc_id",
        F.expr("filter(split(lower(text), ' '), w -> w != '')").alias("ws"),
    )
    train = words.where(F.col("doc_id") < train_docs)
    uni = (
        train.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    if max_unigrams is not None:
        uni = uni.orderBy(F.desc("c1"), F.asc("w")).limit(max_unigrams)
    # CASE guard: sequence(1, 0) is DESCENDING in Spark (the q42 trap),
    # so sub-2-word docs must short-circuit to an empty array
    big_expr = (
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(ws[i - 1], ' ', ws[i])) "
        "ELSE array() END"
    )
    bi = (
        train.select(F.explode(F.expr(big_expr)).alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    if max_bigrams is not None:
        bi = bi.orderBy(F.desc("c12"), F.asc("b")).limit(max_bigrams)
    v = uni.count()
    scored = (
        words.select(
            "doc_id", F.explode(F.expr(big_expr)).alias("b")
        )
        .withColumn("w1", F.expr("split(b, ' ')[0]"))
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")), "w1", "left")
        .join(F.broadcast(bi), "b", "left")
        .select(
            "doc_id",
            F.expr(
                f"(coalesce(c1, 0L) + {v}) * 1000 div (coalesce(c12, 0L) + 1)"
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(s) div count(1)").alias("avg_surprise_milli"),
        )
    )
    # docs too short for a bigram still appear, scored 0
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_surprise_milli", F.lit(0)).alias(
                "avg_surprise_milli"
            ),
        )
        .orderBy("doc_id")
    )


def q65_lm_surprise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer bigram-LM quality scoring over the fixture corpus — the
    declared (oracle-certified) instantiation of ``lm_surprise_scores``
    with UNCAPPED vocabularies (the fixture is natural text; production
    corpora pass max_unigrams/max_bigrams — see that docstring)."""
    (docs,) = load(spark, sf_dir, "documents")
    return lm_surprise_scores(docs)


Q65_SQL = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
  FROM documents),
train AS (SELECT * FROM w WHERE doc_id < 200),
uni AS (
  SELECT u.w1, CAST(COUNT(*) AS BIGINT) AS c1
  FROM train, unnest(train.ws) AS u(w1) GROUP BY u.w1),
v AS (SELECT COUNT(*) AS v FROM uni),
bi AS (
  SELECT b.b, CAST(COUNT(*) AS BIGINT) AS c12
  FROM train,
       unnest(list_transform(range(1, greatest(len(train.ws), 1)),
                             i -> ws[i] || ' ' || ws[i + 1])) AS b(b)
  GROUP BY b.b),
doc_bi AS (
  SELECT w.doc_id, b.b, string_split(b.b, ' ')[1] AS w1
  FROM w,
       unnest(list_transform(range(1, greatest(len(w.ws), 1)),
                             i -> ws[i] || ' ' || ws[i + 1])) AS b(b)),
scored AS (
  SELECT d.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM((COALESCE(uni.c1, 0) + v.v) * 1000
                  // (COALESCE(bi.c12, 0) + 1))
              // COUNT(*) AS BIGINT) AS avg_surprise_milli
  FROM doc_bi d
  CROSS JOIN v
  LEFT JOIN uni ON uni.w1 = d.w1
  LEFT JOIN bi ON bi.b = d.b
  GROUP BY d.doc_id)
SELECT docs.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(s.avg_surprise_milli, 0) AS BIGINT)
         AS avg_surprise_milli
FROM (SELECT doc_id FROM documents) docs
LEFT JOIN scored s ON s.doc_id = docs.doc_id
ORDER BY docs.doc_id
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_top_revenue_orders": (q02_top_revenue_orders, Q02_SQL),
    "q03_nation_volume": (q03_nation_volume, Q03_SQL),
    "q04_semi_join": (q04_semi_join, Q04_SQL),
    "q05_anti_join": (q05_anti_join, Q05_SQL),
    "q06_window_topn": (q06_window_topn, Q06_SQL),
    "q07_running_sum": (q07_running_sum, Q07_SQL),
    "q08_sessionize": (q08_sessionize, Q08_SQL),
    "q09_bitmask_tree": (q09_bitmask_tree, Q09_SQL),
    "q10_set_except": (q10_set_except, Q10_SQL),
    "q11_tile_counts": (q11_tile_counts, Q11_SQL),
    "q12_knn": (q12_knn, Q12_SQL),
    "q13_pip": (q13_pip, Q13_SQL),
    "q14_exact_dedup": (q14_exact_dedup, Q14_SQL),
    "q15_token_stats": (q15_token_stats, Q15_SQL),
    "q16_quality": (q16_quality, Q16_SQL),
    "q17_langid": (q17_langid, Q17_SQL),
    "q18_fingerprint": (q18_fingerprint, Q18_SQL),
    "q19_ngram_jaccard": (q19_ngram_jaccard, Q19_SQL),
    "q20_minhash": (q20_minhash, Q20_SQL),
    "q21_lsh_bands": (q21_lsh_bands, Q21_SQL),
    "q22_simhash": (q22_simhash, Q22_SQL),
    "q23_embedding_topk": (q23_embedding_topk, Q23_SQL),
    "q24_centroid_assign": (q24_centroid_assign, Q24_SQL),
    "q29_embedding_neardup": (q29_embedding_neardup, Q29_SQL),
    "q25_hilbert_goldens": (q25_hilbert_goldens, Q25_SQL),
    "q26_hilbert_leaves": (q26_hilbert_leaves, Q26_SQL),
    "q27_tile_tree": (q27_tile_tree, Q27_SQL),
    "q28_tile_compose": (q28_tile_compose, Q28_SQL),
    # q30's oracle is a CALLABLE (sf_dir -> SQL): the ring interior-point
    # VALUES depend on the input table (see q30_sql docstring)
    "q30_way_tiles": (q30_way_tiles, q30_sql),
    "q31_ivf_search": (q31_ivf_search, Q31_SQL),
    "q32_bpe_tokens": (q32_bpe_tokens, Q32_SQL),
    "q33_raster_check": (q33_raster_check, Q33_SQL),
    # q34 shares q13's oracle by construction: the partitioned PIP path
    # must reproduce the broadcast path's containment exactly
    "q34_pip_partitioned": (q34_pip_partitioned, Q13_SQL),
    "q35_relation_rings": (q35_relation_rings, Q35_SQL),
    "q36_dedup_groups": (q36_dedup_groups, Q36_SQL),
    "q37_cell_index": (q37_cell_index, Q37_SQL),
    "q38_url_canonical": (q38_url_canonical, Q38_SQL),
    "q39_semantic_dedup": (q39_semantic_dedup, Q39_SQL),
    "q40_corpus_funnel": (q40_corpus_funnel, Q40_SQL),
    "q41_zonal_stats": (q41_zonal_stats, Q41_SQL),
    "q42_repetition_quality": (q42_repetition_quality, Q42_SQL),
    "q43_crossdoc_ngrams": (q43_crossdoc_ngrams, Q43_SQL),
    "q44_bm25_topk": (q44_bm25_topk, Q44_SQL),
    "q45_host_stats": (q45_host_stats, Q45_SQL),
    "q46_label_centroids": (q46_label_centroids, Q46_SQL),
    "q47_stratified_sample": (q47_stratified_sample, Q47_SQL),
    "q48_host_rank": (q48_host_rank, Q48_SQL),
    "q49_pii_redaction": (q49_pii_redaction, Q49_SQL),
    "q50_asof_join": (q50_asof_join, Q50_SQL),
    "q51_range_join": (q51_range_join, Q51_SQL),
    "q52_radius_join": (q52_radius_join, Q52_SQL),
    "q53_group_quantiles": (q53_group_quantiles, Q53_SQL),
    "q54_mbr_overlap": (q54_mbr_overlap, Q54_SQL),
    "q55_topk_per_group": (q55_topk_per_group, Q55_SQL),
    "q56_streaming_asof": (q56_streaming_asof, Q56_SQL),
    "q57_mutual_nn": (q57_mutual_nn, Q57_SQL),
    # q58 certifies the hot-key pre-split as-of plan against q50's oracle
    "q58_asof_split": (q58_asof_split, Q50_SQL),
    # q59's oracle is a CALLABLE (sf_dir -> SQL): the independent
    # scalar BPE replay's counts are pinned as VALUES (q30 pattern)
    "q59_bpe_subword": (q59_bpe_subword, q59_sql),
    "q60_bloom_dedup": (q60_bloom_dedup, Q60_SQL),
    # q61's oracle is a CALLABLE: independent scalar PQ replay as VALUES
    "q61_pq_topk": (q61_pq_topk, q61_sql),
    "q62_host_triangles": (q62_host_triangles, Q62_SQL),
    "q63_daily_resample": (q63_daily_resample, Q63_SQL),
    "q64_funnel": (q64_funnel, Q64_SQL),
    "q65_lm_surprise": (q65_lm_surprise, Q65_SQL),
}

# --- Driver-gate ordering -------------------------------------------------
# The external correctness gate certifies ``queries()`` in iteration
# order and caps at 50 entries (CORRECTNESS_r04/r05 hold exactly the
# first 50 registry keys), so iteration order IS gate coverage.
# ROTATION POLICY (VERDICT r5 item 3): brand-new queries go first (they
# must be certified the round they land); after them, slots go to the
# LEAST-RECENTLY driver-certified entries, so every query is driver-
# re-certified within ~2 rounds. Certification history by round:
#   r03: full registry (q01..q45 era)         -> q01..q10 last green r03
#   r04: first 50 of 57 (q46..q50 in window)  -> q46..q50 last green r04
#   r05: first 50 of 65 (q51..q65 + q11..q45) -> those last green r05
# Round 6 adds no queries, so the window rotates to the stalest 50:
# q01..q10 (r03) first, then q46..q50 (r04), then q11..q45 (r05);
# q51..q65 — certified LAST round — rotate out and stay covered by the
# committed full-registry self-run (scripts/oracle_check.py ->
# BENCH/CORRECTNESS_SELF_r*.json) and the pytest oracle tests.
# Invariant after this round: max certification age = 1 round.
_GATE_FIRST = (
    [k for k in REGISTRY if any(k.startswith(f"q{i:02d}_") for i in range(1, 11))]
    + [k for k in REGISTRY if any(k.startswith(f"q{i}_") for i in range(46, 51))]
)
_GATE_LAST = [f"q{i}_" for i in range(51, 66)]
_gate_last = [k for k in REGISTRY if any(k.startswith(p) for p in _GATE_LAST)]
REGISTRY = {
    **{k: REGISTRY[k] for k in _GATE_FIRST},
    **{k: v for k, v in REGISTRY.items()
       if k not in _GATE_FIRST and k not in _gate_last},
    **{k: REGISTRY[k] for k in _gate_last},
}


def compare_against_oracle(spark: SparkSession, sf_dir: str, names=None) -> dict:
    """Local harness mirroring the driver's DuckDB check: row count +
    sorted-column value frame equality."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    results = {}
    for name, (fn, sql) in REGISTRY.items():
        if names and name not in names:
            continue
        try:
            got = fn(spark, sf_dir).toPandas()
            if sql is None:
                results[name] = {"rows": len(got), "oracle": "rows-only"}
                continue
            if callable(sql):  # input-dependent oracle (q30 ring VALUES)
                sql = sql(sf_dir)
            want = con.execute(sql).df()
            got_s = got[sorted(got.columns)].reset_index(drop=True)
            want_s = want[sorted(want.columns)].reset_index(drop=True)
            for c in got_s.columns:
                got_s[c] = got_s[c].astype(str)
                want_s[c] = want_s[c].astype(str)
            got_s = got_s.sort_values(list(got_s.columns)).reset_index(drop=True)
            want_s = want_s.sort_values(list(want_s.columns)).reset_index(drop=True)
            match = got_s.equals(want_s)
            results[name] = {
                "rows": len(got),
                "oracle_rows": len(want),
                "match": bool(match),
            }
            if not match:
                merged = pd.concat([got_s.head(3), want_s.head(3)], keys=["spark", "duck"])
                results[name]["sample"] = merged.to_string()[:800]
        except Exception as e:  # pragma: no cover
            results[name] = {"error": f"{type(e).__name__}: {e}"[:500]}
    return results
