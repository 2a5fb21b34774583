"""PIP join, kNN, external membership, way/relation h assignment."""

import numpy as np
from pyspark.sql import functions as F

from pvt_spark import hilbert as hb
from pvt_spark.functions.geo import hilbert_h
from pvt_spark.operators.external import (
    candidates_with_external,
    external_members,
)
from pvt_spark.operators.feature_h import assign_relation_h, assign_way_h
from pvt_spark.operators.knn import knn_per_tile
from pvt_spark.operators.pip import point_in_polygon_join
from pvt_spark.sources.fixtures import admin_polygons, minicruz


def _points(spark, coords):
    rows = []
    for i, (lon, lat) in enumerate(coords):
        h = int(hb.lonlat_to_signed_h(np.array([lon]), np.array([lat]))[0])
        rows.append((i, lon, lat, h))
    return spark.createDataFrame(rows, "feature_id long, lon_dm7 int, lat_dm7 int, h long")


def test_pip_rectangles_exact_membership(spark):
    polys = admin_polygons(spark, grid=2)  # 4 rectangles over SC bbox
    # one point strictly inside each quadrant + one far outside
    pts = _points(
        spark,
        [
            (-1221000000, 369000000),  # SW quadrant (admin_0_0)
            (-1221000000, 370800000),  # NW (admin_0_1)
            (-1219000000, 369000000),  # SE (admin_1_0)
            (-1219000000, 370800000),  # NE (admin_1_1)
            (0, 0),  # nowhere
        ],
    )
    out = point_in_polygon_join(pts, polys, cover_zoom=6)
    got = {(r.feature_id, r.name) for r in out.collect()}
    assert got == {
        (0, "admin_0_0"),
        (1, "admin_0_1"),
        (2, "admin_1_0"),
        (3, "admin_1_1"),
    }


def test_pip_polygon_with_hole(spark):
    # square with a square hole; point in hole must NOT match
    ring_o = [(0, 0), (10000000, 0), (10000000, 10000000), (0, 10000000), (0, 0)]
    ring_h = [(4000000, 4000000), (6000000, 4000000), (6000000, 6000000), (4000000, 6000000), (4000000, 4000000)]
    polys = spark.createDataFrame(
        [(1, 4, "donut", [ring_o, ring_h])],
        "admin_id long, admin_level int, name string, "
        "rings array<array<struct<lon_dm7:int, lat_dm7:int>>>",
    )
    pts = _points(spark, [(2000000, 2000000), (5000000, 5000000), (20000000, 5000000)])
    out = point_in_polygon_join(pts, polys, cover_zoom=6)
    got = {r.feature_id for r in out.collect()}
    assert got == {0}


def test_pip_partitioned_matches_broadcast(spark):
    """The no-ceiling path (polygons stay a DataFrame; cover via
    mapInPandas; ray-cast via cogroup) returns exactly the
    broadcast path's pairs — donut hole, disjoint rect, jagged star,
    3k random points."""
    from pvt_spark.operators.pip import point_in_polygon_join_partitioned

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        ring_o = [(0, 0), (10000000, 0), (10000000, 10000000), (0, 10000000), (0, 0)]
        ring_h = [(4000000, 4000000), (6000000, 4000000), (6000000, 6000000),
                  (4000000, 6000000), (4000000, 4000000)]
        nv = 101
        ang = np.linspace(0, 2 * np.pi, nv - 1, endpoint=False)
        rad = np.where(np.arange(nv - 1) % 2 == 0, 9e6, 5e6)
        star = [(int(20000000 + r * np.cos(a)), int(5000000 + 0.5 * r * np.sin(a)))
                for r, a in zip(rad, ang)]
        star.append(star[0])
        # wide rect OVERLAPS both the donut and the star: points inside
        # two polygons must match both on both paths
        ring_w = [(5000000, -1000000), (25000000, -1000000),
                  (25000000, 11000000), (5000000, 11000000), (5000000, -1000000)]
        polys = spark.createDataFrame(
            [(1, "donut", [ring_o, ring_h]), (2, "star", [star]),
             (3, "wide", [ring_w])],
            "admin_id long, name string, "
            "rings array<array<struct<lon_dm7:int, lat_dm7:int>>>",
        )
        rng = np.random.RandomState(11)
        lon = rng.randint(-2000000, 32000000, 3000).astype(np.int64)
        lat = rng.randint(-2000000, 12000000, 3000).astype(np.int64)
        pts = _points(spark, list(zip(lon.tolist(), lat.tolist())))
        a = point_in_polygon_join(pts, polys, cover_zoom=6)
        b = point_in_polygon_join_partitioned(pts, polys, cover_zoom=6)
        ra = sorted((r.feature_id, r.admin_id) for r in a.collect())
        rb = sorted((r.feature_id, r.admin_id) for r in b.collect())
        assert ra == rb and len(ra) > 100
        # overlap region produces multi-matches on both paths
        from collections import Counter

        multi = [f for f, c in Counter(f for f, _ in ra).items() if c > 1]
        assert len(multi) > 10
        # dispatch through the unified entry
        c = point_in_polygon_join(pts, polys, cover_zoom=6, strategy="partitioned")
        assert sorted((r.feature_id, r.admin_id) for r in c.collect()) == ra
        # the partitioned plan must contain no broadcast of the polygon
        # candidates and no nested-loop join; ray-cast rides a cogroup
        plan = b._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the broadcast path keeps the h range on its hash join
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert any(
            "BroadcastHashJoin" in line and "h_lo" in line and "h_hi" in line
            for line in plan.splitlines()
        ), plan
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_knn_exact(spark):
    base = [(-1220280000 + i * 10000, 370490000) for i in range(10)]
    pts = _points(spark, base)
    queries = (
        _points(spark, [(-1220280000, 370490000)])
        .select(F.col("feature_id").alias("query_id"), "lon_dm7", "lat_dm7", "h")
    )
    out = knn_per_tile(pts, queries, k=3, zoom=12)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    # nearest is the point itself (id 0), then ids 1, 2 (increasing lon)
    assert [r.neighbor_id for r in rows] == [0, 1, 2]
    assert rows[0].d2 == 0.0


def test_external_members(spark):
    pts, ways, rels = minicruz(spark, n_points=2000, n_ways=100, n_relations=10)
    ways_h = assign_way_h(ways, pts)
    ext = external_members(ways_h, pts, leaf_zoom=12)
    # invariant: a way never appears in its own home leaf's external list
    from pvt_spark.functions.geo import zoom_h

    home = ways_h.select(
        F.col("feature_id").alias("fid"), zoom_h(F.col("h"), 12).alias("home_leaf")
    )
    bad = (
        ext.select("leaf_h", F.explode("external").alias("fid"))
        .join(home, "fid")
        .where(F.col("leaf_h") == F.col("home_leaf"))
        .count()
    )
    assert bad == 0
    # external lists are sorted ascending (BTreeSet semantics)
    for r in ext.collect():
        assert list(r.external) == sorted(r.external)

    # candidates union dedups
    inner = ways_h.select(zoom_h(F.col("h"), 12).alias("leaf_h"), "feature_id")
    cand = candidates_with_external(inner, ext)
    assert cand.count() == cand.dropDuplicates(["leaf_h", "feature_id"]).count()


def test_way_h_fallback_ladder(spark):
    pts = _points(spark, [(0, 0), (1000000, 0), (1000000, 1000000), (0, 1000000)])
    # way with < 4 refs -> first ref's h
    ways = spark.createDataFrame(
        [
            (100, [0, 1]),
            (101, [0, 1, 2, 3, 0]),  # closed ring -> interior point
        ],
        "feature_id long, refs array<long>",
    )
    out = {r.feature_id: r.h for r in assign_way_h(ways, pts).collect()}
    first_h = pts.where(F.col("feature_id") == 0).first().h
    assert out[100] == first_h
    # ring interior point must be inside the ring bbox
    lon, lat = hb.h_to_lonlat(hb.signed_to_h(np.array([out[101]])))
    assert 0 <= lon[0] <= 1000000 and 0 <= lat[0] <= 1000000


def test_relation_h_mean_and_nesting(spark):
    pts = _points(spark, [(0, 0), (20000000, 0)])
    ways = spark.createDataFrame([], "feature_id long, refs array<long>, h long")
    rels = spark.createDataFrame(
        [
            (200, [("n", 0), ("n", 1)]),
            (201, [("r", 200), ("n", 0)]),  # nested: needs 2nd iteration
        ],
        "feature_id long, members array<struct<etype:string, ref:long>>",
    )
    out = {r.feature_id: r.h for r in assign_relation_h(rels, pts, ways).collect()}
    h0 = int(pts.where("feature_id = 0").first().h)
    h1 = int(pts.where("feature_id = 1").first().h)
    u0, u1 = int(hb.signed_to_h(np.array([h0]))[0]), int(hb.signed_to_h(np.array([h1]))[0])
    expect_200 = int(hb.h_to_signed(np.array([(u0 + u1) // 2], dtype=np.uint64))[0])
    assert out[200] == expect_200
    u200 = (u0 + u1) // 2
    expect_201 = int(hb.h_to_signed(np.array([(u200 + u0) // 2], dtype=np.uint64))[0])
    assert out[201] == expect_201


def test_fused_way_h_geometry_matches_two_step(spark):
    """assign_way_h_geometry (one explode/join + one shuffle) is
    value-identical — h AND full-resolution grid coordinate arrays — to
    assign_way_h followed by way_geometry (two shuffles) on the
    minicruz fixture, including closed rings (interior-point ladder)
    and <4-ref ways."""
    from pvt_spark.operators.feature_h import (
        assign_way_h_geometry,
        way_geometry,
    )

    pts, ways, _rels = minicruz(spark, n_points=2000, n_ways=100, n_relations=10)
    fused = {
        r.feature_id: (r.h, tuple(r.geom_x), tuple(r.geom_y))
        for r in assign_way_h_geometry(ways, pts).collect()
    }
    two_step = {
        r.feature_id: (r.h, tuple(r.geom_x), tuple(r.geom_y))
        for r in way_geometry(assign_way_h(ways, pts), pts).collect()
    }
    assert fused == two_step and len(fused) > 50


def test_external_from_geometry_matches_node_join(spark):
    """external_members_from_geometry (leaf tiles off the way's own grid
    arrays, single-leaf ways dropped map-side) equals the node-join
    path exactly on minicruz."""
    from pvt_spark.operators.external import external_members_from_geometry
    from pvt_spark.operators.feature_h import assign_way_h_geometry

    pts, ways, _rels = minicruz(spark, n_points=2000, n_ways=100, n_relations=10)
    wf = assign_way_h_geometry(ways, pts)
    a = {
        (r.leaf_h, tuple(r.external))
        for r in external_members(wf, pts, leaf_zoom=12).collect()
    }
    b = {
        (r.leaf_h, tuple(r.external))
        for r in external_members_from_geometry(wf, leaf_zoom=12).collect()
    }
    assert a == b and len(a) > 0


def test_rel_rings_batch_vectorized_identity():
    """Offset-run `_rel_rings_batch` (the `_ways_h_batch` slicing
    pattern) is value-identical to the per-group pandas reference on a
    10k-relation synthetic — closed ring + two-chain stitch + dangling
    line per relation (VERDICT r3 item 3)."""
    import time

    import pandas as pd

    from pvt_spark.operators.feature_h import (
        _assemble_rings,
        _orient_rings,
        _rel_rings_batch,
    )

    fids, xs_col, ys_col = [], [], []
    for i in range(10_000):
        b = i * 1000
        members = [
            ([b, b + 10, b + 10, b, b], [b, b, b + 10, b + 10, b]),  # closed
            ([b + 20, b + 30, b + 30], [b, b, b + 10]),  # chain A
            ([b + 30, b + 20, b + 20], [b + 10, b + 10, b]),  # chain B
            ([b + 50, b + 60], [b, b]),  # dangling line
        ]
        for mx, my in members:
            fids.append(i)
            xs_col.append(np.array(mx, dtype=np.int64))
            ys_col.append(np.array(my, dtype=np.int64))
    pdf = pd.DataFrame({"feature_id": fids, "geom_x": xs_col, "geom_y": ys_col})

    t0 = time.time()
    got = _rel_rings_batch(pdf)
    wall = time.time() - t0

    def reference(p):
        rows = []
        for fid, grp in p.groupby("feature_id", sort=False):
            rings, lines = _assemble_rings(list(zip(grp["geom_x"], grp["geom_y"])))
            for rx, ry in _orient_rings(rings):
                rows.append((fid, rx.tolist(), ry.tolist()))
            for rx, ry in lines:
                rows.append((fid, rx.tolist(), ry.tolist()))
        return pd.DataFrame(rows, columns=["feature_id", "geom_x", "geom_y"])

    want = reference(pdf)
    assert len(got) == len(want) == 30_000  # 2 rings + 1 line per relation
    assert got["feature_id"].tolist() == want["feature_id"].tolist()
    assert got["geom_x"].tolist() == want["geom_x"].tolist()
    assert got["geom_y"].tolist() == want["geom_y"].tolist()
    print(f"10k-relation batch: {wall:.2f}s vectorized")

    # empty batch guard
    assert len(_rel_rings_batch(pdf.iloc[0:0])) == 0


def test_cells_hierarchy():
    from pvt_spark.functions.cells import hexish_cell, s2ish_cell, s2ish_parent

    rng = np.random.RandomState(3)
    lon = rng.randint(-1800000000, 1800000000, 500)
    lat = rng.randint(-850000000, 850000000, 500)
    c12 = s2ish_cell(lon, lat, 12)
    c8 = s2ish_cell(lon, lat, 8)
    assert np.array_equal(s2ish_parent(c12, 12, 8), c8)
    # nearby points share cells, far points don't (locality smoke)
    a = s2ish_cell(np.array([100000]), np.array([100000]), 10)
    b = s2ish_cell(np.array([100001]), np.array([100001]), 10)
    far = s2ish_cell(np.array([900000000]), np.array([100000]), 10)
    assert a[0] == b[0] != far[0]
    hx = hexish_cell(lon, lat, 8)
    assert len(np.unique(hx)) > 100
    # integer packing core: s2ish_cell == float projection -> pack_s2ish
    from pvt_spark.functions.cells import pack_s2ish

    face = np.array([0, 5, 3], dtype=np.uint64)
    si = np.array([0, 4095, 1234], dtype=np.uint64)
    ti = np.array([4095, 0, 987], dtype=np.uint64)
    packed = pack_s2ish(face, si, ti, 12)
    assert np.array_equal(s2ish_parent(packed, 12, 12), packed)
    # prefix property: truncating the curve position == packing the
    # coarsened coords (same invariant the Hilbert tile ids rely on)
    assert np.array_equal(
        s2ish_parent(packed, 12, 8),
        pack_s2ish(face, si >> np.uint64(4), ti >> np.uint64(4), 8),
    )


def test_q37_cell_index_matches_duckdb_oracle(spark):
    from pvt_spark.queries import compare_against_oracle

    res = compare_against_oracle(
        spark, "/root/testdata/sf0.001", names={"q37_cell_index"}
    )
    assert res["q37_cell_index"].get("match") is True, res


def test_knn_ring_expansion_sparse_region(spark):
    # two clusters far apart; query near cluster A with k exceeding its size
    a = [(-1220280000 + i * 5000, 370490000) for i in range(3)]
    b = [(-1100000000 + i * 5000, 300000000) for i in range(10)]
    pts = _points(spark, a + b)
    queries = _points(spark, [(-1220280000, 370490000)]).select(
        F.col("feature_id").alias("query_id"), "lon_dm7", "lat_dm7", "h"
    )
    out = knn_per_tile(
        pts, queries, k=5, zoom=12, ring=1, max_ring=2048, n_queries=1
    )
    rows = out.collect()
    # must find 5 neighbors despite only 3 living near the query tile
    # (exact n_queries hint: same result, one fewer driver job)
    assert len(rows) == 5
    near_ids = {0, 1, 2}
    got_near = {r.neighbor_id for r in rows if r.rank <= 3}
    assert got_near == near_ids


def test_knn_leaves_no_persisted_intermediates(spark):
    """After knn_per_tile returns, the only storage left is the returned
    result's own localCheckpoint blocks — every pass intermediate
    (candidate results, satisfied-set aggregates) is unpersisted, so a
    long-lived build session accumulates nothing (VERDICT r3 item 6)."""
    def persisted_ids():
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in m.keySet().toArray()}

    before = persisted_ids()
    a = [(-1220280000 + i * 5000, 370490000) for i in range(3)]
    b = [(-1100000000 + i * 5000, 300000000) for i in range(10)]
    pts = _points(spark, a + b)
    queries = _points(spark, [(-1220280000, 370490000)]).select(
        F.col("feature_id").alias("query_id"), "lon_dm7", "lat_dm7", "h"
    )
    # escalation path (exercises pass 1 + pass 2 + brute persists)
    out = knn_per_tile(pts, queries, k=5, zoom=12, ring=1, max_ring=2)
    assert len(out.collect()) == 5
    after = persisted_ids()
    assert len(after - before) == 1  # exactly the returned checkpoint

    # single-pass common case (cluster A satisfies k=2 at ring 1): same
    # invariant
    out2 = knn_per_tile(pts, queries, k=2, zoom=12, ring=1, max_ring=8)
    assert len(out2.collect()) == 2
    assert len(persisted_ids() - after) == 1


def test_knn_bulk_distributed(spark):
    """Bulk k-NN: 10k queries against 20k points, exact vs brute force on
    a sample; the operator plan must contain no driver-side collect (the
    whole result is one lazy DataFrame)."""
    import numpy as np
    import pandas as pd

    from pvt_spark import hilbert as hb

    rng = np.random.RandomState(3)
    n_pts, n_q = 20000, 10000
    lon = rng.randint(-1221500000, -1218500000, n_pts + n_q)
    lat = rng.randint(368500000, 371500000, n_pts + n_q)
    h = hb.lonlat_to_signed_h(lon, lat)
    base = pd.DataFrame(
        {"feature_id": np.arange(n_pts + n_q, dtype=np.int64),
         "lon_dm7": lon.astype(np.int32), "lat_dm7": lat.astype(np.int32), "h": h}
    )
    pts = spark.createDataFrame(
        base.iloc[:n_pts], "feature_id long, lon_dm7 int, lat_dm7 int, h long"
    )
    qdf = base.iloc[n_pts:].rename(columns={"feature_id": "query_id"})
    queries = spark.createDataFrame(
        qdf, "query_id long, lon_dm7 int, lat_dm7 int, h long"
    )
    out = knn_per_tile(pts, queries, k=3, zoom=12)
    res = out.collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.d2))
    assert len(by_q) == n_q
    assert all(len(v) == 3 for v in by_q.values())

    # brute-force check on 50 sampled queries (grid-space distances)
    px, py = hb.lonlat_to_xy(lon[:n_pts], lat[:n_pts])
    px = px.astype(np.float64); py = py.astype(np.float64)
    sample = qdf.iloc[:: n_q // 50]
    for row in sample.itertuples():
        qx, qy = hb.lonlat_to_xy(
            np.array([row.lon_dm7]), np.array([row.lat_dm7])
        )
        d2 = (px - float(qx[0])) ** 2 + (py - float(qy[0])) ** 2
        order = np.lexsort((np.arange(n_pts), d2))[:3]
        want = [(int(i), float(d2[i])) for i in order]
        have = sorted(by_q[row.query_id])
        assert [(n, d) for _, n, d in have] == want, row.query_id


def test_q41_zonal_stats_matches_duckdb_oracle(spark):
    """Zonal statistics through the partitioned PIP path: exact
    integer count/sum/min/max/mean per admin polygon."""
    from pvt_spark.queries import compare_against_oracle

    res = compare_against_oracle(
        spark, "/root/testdata/sf0.001", names={"q41_zonal_stats"}
    )
    assert res["q41_zonal_stats"].get("match") is True, res


def _grid_points(spark, rows, id_name="feature_id"):
    """(id, gx, gy) -> DataFrame with h from the u32 grid coords."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["id", "gx", "gy"])
    pdf["h"] = hb.h_to_signed(
        hb.xy2h(pdf["gx"].to_numpy(np.uint64), pdf["gy"].to_numpy(np.uint64))
    )
    pdf = pdf.rename(columns={"id": id_name})
    return spark.createDataFrame(pdf)


def test_radius_join_cross_tile_and_boundary_inclusive(spark):
    """Pairs spanning a tile boundary are found exactly once; d2 == r^2
    is kept, r^2 + 1 dropped."""
    from pvt_spark.operators.knn import radius_join_per_tile, radius_zoom

    r = 1000
    zoom = radius_zoom(r)  # tile edge 2^(32-zoom) >= 1000
    edge = 1 << (32 - zoom)
    # a/b straddle the vertical tile boundary at x=edge, 600 apart;
    # c is exactly r away from a (inclusive); d is r+1 away (excluded)
    pts = _grid_points(
        spark,
        [
            (1, edge - 300, 5000),
            (2, edge + 300, 5000),
            (3, edge - 300, 5000 + r),
            (4, edge - 300, 5000 + r + 1),
        ],
    )
    qs = _grid_points(spark, [(1, edge - 300, 5000)], id_name="query_id")
    got = sorted(
        (row["neighbor_id"], row["d2"])
        for row in radius_join_per_tile(
            pts, qs, radius=r, grid_cols=("gx", "gy"), exclude_self=True
        ).collect()
    )
    assert got == [(2, 600 * 600), (3, r * r)]


def test_radius_join_exactly_once_self_join(spark):
    """Dense clump inside one tile + far-away singleton: the self radius
    join reproduces the quadratic pair set with no duplicates."""
    from pvt_spark.operators.knn import radius_join_per_tile

    coords = [(i, 10_000 + 37 * i, 20_000 + 91 * (i * i % 13)) for i in range(25)]
    coords.append((99, 5_000_000, 5_000_000))
    pts = _grid_points(spark, coords)
    qs = _grid_points(spark, coords, id_name="query_id")
    r = 900
    got = sorted(
        (row["query_id"], row["neighbor_id"])
        for row in radius_join_per_tile(
            pts, qs, radius=r, grid_cols=("gx", "gy"), exclude_self=True
        ).collect()
    )
    expect = sorted(
        (a, b)
        for (a, xa, ya) in coords
        for (b, xb, yb) in coords
        if a != b and (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
    )
    assert got == expect and len(got) == len(set(got)) and len(got) > 0


def test_radius_join_rejects_unsound_zoom(spark):
    from pvt_spark.operators.knn import radius_join_per_tile

    pts = _grid_points(spark, [(1, 100, 100)])
    qs = _grid_points(spark, [(1, 100, 100)], id_name="query_id")
    import pytest

    with pytest.raises(ValueError):
        # tile edge at zoom 20 is 4096 < radius 5000: ring-1 incomplete
        radius_join_per_tile(pts, qs, radius=5000, zoom=20, grid_cols=("gx", "gy"))


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40_000), st.integers(0, 40_000)),
        min_size=2,
        max_size=40,
    ),
    st.sampled_from([1_000, 3_000, 10_000]),
)
def test_radius_join_matches_quadratic(spark, coords, r):
    from pvt_spark.operators.knn import radius_join_per_tile

    rows = [(i, x, y) for i, (x, y) in enumerate(coords)]
    pts = _grid_points(spark, rows)
    qs = _grid_points(spark, rows, id_name="query_id")
    got = sorted(
        (row["query_id"], row["neighbor_id"], row["d2"])
        for row in radius_join_per_tile(
            pts, qs, radius=r, grid_cols=("gx", "gy"), exclude_self=True
        ).collect()
    )
    expect = sorted(
        (a, b, (xa - xb) ** 2 + (ya - yb) ** 2)
        for (a, xa, ya) in rows
        for (b, xb, yb) in rows
        if a != b and (xa - xb) ** 2 + (ya - yb) ** 2 <= r * r
    )
    assert got == expect


def test_plan_shape_radius_join_no_broadcast_hint(spark):
    """q52's probe side must not be broadcast-hinted (both sides of a
    radius self-join are corpus-sized) and must not nested-loop."""
    from pvt_spark.queries import q52_radius_join

    df = q52_radius_join(spark, "/root/testdata/sf0.001")
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    lp = df._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in lp
