"""Layered-compose golden: a pinned full-tile structure of santa-cruz
richness (reference src/hilbert/compose.rs:424-493 pins 8 layers /
3,647 features / one feature's id+keys+point for its fixture planet;
this pins the analog for the deterministic minicruz fixture).

Constants documented in FIXTURES.md §8. Any change to rule evaluation,
zoom explode, tile assignment, hot-tile splitting, merge ordering, interning or
payload encoding that alters the composed tile breaks this test.
"""

from pyspark.sql import functions as F

from pvt_spark.functions.geo import grid_x, grid_y
from pvt_spark.functions.pvt_codec import decode_tile
from pvt_spark.manifest import DEFAULT_MANIFEST, compile_rules
from pvt_spark.operators.compose import compose_tiles
from pvt_spark.operators.content import render_content
from pvt_spark.operators.feature_h import assign_way_h, way_geometry
from pvt_spark.operators.rules import include_tags
from pvt_spark.sources.fixtures import minicruz

GOLDEN_ZOOM = 12
GOLDEN_TILE_H = 3329134
GOLDEN_LAYER_COUNTS = {
    "Places": 252,
    "Roads": 262,
    "Buildings": 258,
    "Nature": 241,
    "Power": 239,
}
GOLDEN_FEATURES = 1252
GOLDEN_PAYLOAD_SIZE = 34094
GOLDEN_TOTAL_TILES = 26
GOLDEN_ZOOM_HIST = {6: 1, 8: 1, 10: 4, 12: 20}
# first feature of the first layer (Places), global (h, id) order
GOLDEN_F0_ID = 3498758249159611
GOLDEN_F0_KEYS = ["amenity"]
GOLDEN_F0_VALUES = ["bus_station"]
GOLDEN_F0_POINT = (3773, 1717)


def test_layered_compose_golden(spark):
    pts, ways, _ = minicruz(spark, n_points=3000, n_ways=150, n_relations=5)
    pts_t = pts.select(
        "feature_id",
        "h",
        F.map_from_arrays(F.array("tag_key"), F.array("tag_value")).alias("tags"),
        F.array(grid_x(F.col("lon_dm7"))).alias("geom_x"),
        F.array(grid_y(F.col("lat_dm7"))).alias("geom_y"),
    )
    way_feats = way_geometry(assign_way_h(ways, pts), pts).select(
        "feature_id",
        "h",
        F.map_from_arrays(F.array("tag_key"), F.array("tag_value")).alias("tags"),
        "geom_x",
        "geom_y",
    )
    feats = pts_t.unionByName(way_feats)
    compiled = compile_rules(DEFAULT_MANIFEST)
    content = render_content(
        feats, DEFAULT_MANIFEST, compiled, carry_cols=["tags", "geom_x", "geom_y"]
    )
    evals_df = spark.createDataFrame(
        [(i, e[4], e[5]) for i, e in enumerate(compiled.evals)],
        "eval_i int, include_kind string, include_keys array<string>",
    )
    rf = include_tags(
        content.join(F.broadcast(evals_df), "eval_i", "left"), all_tags=True
    ).select(
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
    rows = tiles.collect()

    assert len(rows) == GOLDEN_TOTAL_TILES
    hist = {}
    for r in rows:
        hist[r.zoom] = hist.get(r.zoom, 0) + 1
    assert hist == GOLDEN_ZOOM_HIST

    golden = [r for r in rows if r.zoom == GOLDEN_ZOOM and r.tile_h == GOLDEN_TILE_H]
    assert len(golden) == 1
    t = golden[0]
    assert t.layer_count == len(GOLDEN_LAYER_COUNTS)
    assert t.feature_count == GOLDEN_FEATURES
    assert t.payload_size == GOLDEN_PAYLOAD_SIZE

    decoded = decode_tile(bytes(t.payload))
    got_counts = {
        layer["name"]: len(layer["features"]) for layer in decoded["layers"]
    }
    assert got_counts == GOLDEN_LAYER_COUNTS
    # layer order follows the manifest's layer_order exactly
    assert [layer["name"] for layer in decoded["layers"]] == list(
        GOLDEN_LAYER_COUNTS
    )

    f0 = decoded["layers"][0]["features"][0]
    assert f0["id"] == GOLDEN_F0_ID
    assert f0["keys"] == GOLDEN_F0_KEYS
    assert f0["values"] == GOLDEN_F0_VALUES
    gx, gy = f0["geoms"][0]
    assert (gx[0], gy[0]) == GOLDEN_F0_POINT


def test_batched_final_encoder_byte_identical():
    """The vectorized multi-tile encoder must produce byte-identical
    payloads to the retained per-tile encoder on randomized batches
    (variable features/tile, layers, tag counts, shared+unique strings)."""
    import numpy as np
    import pandas as pd

    from pvt_spark.operators.compose import (
        _encode_final_tiles,
        _encode_tile_slices,
        _feature_tile_id,
    )

    rng = np.random.RandomState(7)
    vocab_k = ["place", "amenity", "highway", "building", "source"]
    vocab_v = ["city", "bus", "primary", "yes", "crawl"]
    recs = []
    for t in range(800):
        zoom = int(rng.choice([4, 8, 12]))
        for f in range(rng.randint(1, 7)):
            ntag = int(rng.randint(0, 4))
            kv = []
            for _ in range(ntag):
                kv += [vocab_k[rng.randint(5)], vocab_v[rng.randint(5)]]
            recs.append(
                (zoom, t, int(rng.randint(1, 1 << 40)),
                 t * 1099511627776 + f, int(rng.randint(0, 3)),
                 np.array(kv, dtype=object), ntag)
            )
    recs.sort(key=lambda r: (r[0], r[1], r[4], r[3], r[2]))
    run = pd.DataFrame(
        recs, columns=["zoom", "tile_h", "feature_id", "h", "layer_rank", "kv", "n_tags"]
    )
    run["layer"] = run["layer_rank"].map(lambda r: f"layer{r}")
    n = len(run)
    zoom = run["zoom"].to_numpy(np.int64)
    tile_h = run["tile_h"].to_numpy(np.int64)
    layer_rank = run["layer_rank"].to_numpy(np.int64)
    layers = run["layer"].to_numpy()
    hs = run["h"].to_numpy(np.int64)
    n_tags = run["n_tags"].to_numpy(np.int64)
    kv_flat = (
        np.concatenate([np.asarray(k, dtype=object) for k in run["kv"]])
        if n
        else np.empty(0, object)
    )
    kv_off = np.concatenate([[0], np.cumsum(n_tags * 2)])
    pts = rng.randint(-4096, 4096, 2 * n).astype(np.int16)
    fids = _feature_tile_id(zoom, hs)
    tb = (
        [0]
        + list(1 + np.flatnonzero((tile_h[1:] != tile_h[:-1]) | (zoom[1:] != zoom[:-1])))
        + [n]
    )
    slices = list(zip(tb[:-1], tb[1:]))
    batched = _encode_final_tiles(
        slices, zoom, tile_h, layer_rank, layers, fids, n_tags, kv_flat, kv_off, pts,
        np.ones(n, dtype=np.int64),
    )
    assert len(batched) == len(slices)
    for row, (s, e) in zip(batched, slices):
        old = _encode_tile_slices(
            int(zoom[s]), int(tile_h[s]), s, e, layer_rank, layers, hs, fids,
            n_tags, kv_flat, kv_off, pts,
        )
        assert row[:8] == old[:8], (row[:2], old[:2])


def test_batched_phase2_merge_byte_identical():
    """The vectorized multi-tile chunk merge must match the retained
    per-tile merge (layer ordering incl. off-manifest names, several
    chunks per (tile, layer) whose h ranges interleave, var-length
    geometry, payload bytes) on randomized input."""
    import pickle

    import numpy as np
    import pandas as pd

    from pvt_spark.operators.compose import _merge_tile_rows, _merge_tiles_batch

    rng = np.random.RandomState(11)
    layer_order = ["no_rule", "Places", "Roads", "Buildings"]
    rows = []
    for t in range(600):
        zoom = int(rng.choice([4, 8, 12]))
        n_layers = rng.randint(1, 4)
        lnames = rng.choice(
            ["Places", "Roads", "Zeta", "Alpha", "no_rule"], n_layers, replace=False
        )
        for ln in lnames:
            for _ in range(rng.randint(1, 3)):
                nf = rng.randint(1, 5)
                geom_lens = rng.randint(1, 6, nf).astype(np.int64)
                n_tags = rng.randint(0, 3, nf).astype(np.int64)
                kv = []
                for ntg in n_tags:
                    for _ in range(ntg):
                        kv += [f"k{rng.randint(4)}", f"v{rng.randint(4)}"]
                pts = rng.randint(-4096, 4096, int(2 * geom_lens.sum())).astype(np.int16)
                chunk = pickle.dumps(
                    {
                        "ids": rng.randint(1, 1 << 40, nf).astype(np.int64),
                        "h": np.sort(rng.randint(1, 1 << 60, nf)).astype(np.int64),
                        "seq": rng.randint(0, 3, nf).astype(np.int64),
                        "n_tags": n_tags,
                        "kv": kv,
                        "geom_lens": geom_lens,
                        "pts": pts,
                    },
                    protocol=4,
                )
                rows.append((zoom, t, ln, nf, chunk))
    rows.sort(key=lambda r: (r[0], r[1], r[2]))
    done = pd.DataFrame(rows, columns=["zoom", "tile_h", "layer", "n_features", "chunk"])
    old = [
        _merge_tile_rows(int(z), int(th), grp, layer_order)
        for (z, th), grp in done.groupby(["zoom", "tile_h"], sort=False)
    ]
    new = _merge_tiles_batch(done.reset_index(drop=True), layer_order)
    assert len(old) == len(new)
    for o, n in zip(old, new):
        assert tuple(o[:5]) == tuple(n[:5])
        assert bytes(o[5]) == bytes(n[5]) and o[6] == n[6]


def test_phase1_kernel_matches_per_tile_merge():
    """The one phase-1 kernel over a mixed batch stream — points (null
    geom_x, grid coords), lines, relation rings that share (h,
    feature_id) with distinct geom_seq, off-manifest layer names, tiles
    cut across Arrow batches — emits finals plus boundary chunks that,
    merged by ``_merge_tiles_batch``, equal the per-tile
    ``_merge_tile_rows`` of the same rows byte for byte."""
    import pickle

    import numpy as np
    import pandas as pd

    from pvt_spark.operators.compose import (
        _merge_tile_rows,
        _merge_tiles_batch,
        _phase1_stream,
        _tile_origin_xy,
    )
    from pvt_spark.tile import tile_project

    rng = np.random.RandomState(13)
    layer_order = ["no_rule", "Places", "Roads", "Buildings"]
    recs = []
    for t in range(400):
        zoom = int(rng.choice([4, 8, 12]))
        tile_h = t % 256 if zoom == 4 else t
        for _ in range(rng.randint(1, 6)):
            kind = rng.choice(["point", "line", "ring"])
            layer = str(rng.choice(["Places", "Roads", "Zeta", "Alpha", "no_rule"]))
            fid, h = int(rng.randint(1, 1 << 40)), int(rng.randint(-(1 << 62), 1 << 62))
            for seq in range(rng.randint(2, 4) if kind == "ring" else 1):
                n_tags = int(rng.randint(0, 3))
                kv = np.array(
                    [f"{c}{rng.randint(4)}" for _ in range(n_tags) for c in "kv"], dtype=object
                )
                rec = dict(zoom=zoom, tile_h=tile_h, feature_id=fid, h=h, layer=layer,
                           kv=kv, n_tags=n_tags, gx=np.nan, gy=np.nan, geom_x=None,
                           geom_y=None, geom_seq=np.nan)
                if kind == "point":
                    rec.update(gx=float(rng.randint(0, 1 << 32)), gy=float(rng.randint(0, 1 << 32)))
                else:
                    n_pts = rng.randint(1, 6)
                    rec.update(
                        geom_x=rng.randint(-4096, 4096, n_pts).astype(np.int16),
                        geom_y=rng.randint(-4096, 4096, n_pts).astype(np.int16),
                        geom_seq=float(seq),
                    )
                recs.append(rec)
    df = pd.DataFrame(recs).sort_values(["zoom", "tile_h"], kind="mergesort")
    df = df.reset_index(drop=True)

    # the oracle: every (tile, layer) as 1-2 chunks of its rows, points
    # projected to tile-local coords, merged per tile
    point = df["geom_x"].isna().to_numpy()
    zoom = df["zoom"].to_numpy(np.int64)
    tile_h = df["tile_h"].to_numpy(np.int64)
    tx, ty = _tile_origin_xy(zoom[point], tile_h[point])
    px, py = tile_project(zoom[point], tx, ty, df["gx"][point], df["gy"][point])
    xs, ys = list(df["geom_x"]), list(df["geom_y"])
    for i, x, y in zip(np.flatnonzero(point), px, py):
        xs[i], ys[i] = np.array([x], np.int16), np.array([y], np.int16)
    seq = df["geom_seq"].fillna(0).astype(np.int64)
    oracle_rows = []
    for (z, th, layer), grp in df.groupby(["zoom", "tile_h", "layer"], sort=False):
        idx = rng.permutation(grp.index.to_numpy())
        for part in np.array_split(idx, rng.randint(1, 3)):
            if not len(part):
                continue
            pts = np.empty(2 * sum(len(xs[i]) for i in part), np.int16)
            pts[0::2] = np.concatenate([xs[i] for i in part])
            pts[1::2] = np.concatenate([ys[i] for i in part])
            chunk = {
                "ids": df["feature_id"][part].to_numpy(np.int64),
                "h": df["h"][part].to_numpy(np.int64),
                "seq": seq[part].to_numpy(),
                "n_tags": df["n_tags"][part].to_numpy(np.int64),
                "kv": list(np.concatenate([df["kv"][i] for i in part])),
                "geom_lens": np.array([len(xs[i]) for i in part], np.int64),
                "pts": pts,
            }
            oracle_rows.append((z, th, layer, pickle.dumps(chunk, protocol=4)))
    oracle = pd.DataFrame(oracle_rows, columns=["zoom", "tile_h", "layer", "chunk"])
    expected = {
        (z, th): _merge_tile_rows(int(z), int(th), grp, layer_order)
        for (z, th), grp in oracle.groupby(["zoom", "tile_h"])
    }

    # the kernel: the (zoom, tile_h)-clustered rows cut into Arrow-like
    # batches at arbitrary rows (tiles span batches), shuffled within
    cuts = [0, *np.sort(rng.choice(np.arange(1, len(df)), 5, replace=False)), len(df)]
    batches = [
        df.iloc[a:b].sample(frac=1, random_state=rng) for a, b in zip(cuts[:-1], cuts[1:])
    ]
    out = pd.concat(list(_phase1_stream(iter(batches), layer_order)), ignore_index=True)
    finals = out[out["final"]]
    chunks = out[~out["final"]].sort_values(["zoom", "tile_h", "layer"], kind="mergesort")
    # chunks only from each batch's first and last tile
    assert chunks[["zoom", "tile_h"]].drop_duplicates().shape[0] <= 2 * len(batches)
    assert len(finals) > len(expected) // 2
    got = [
        (r.zoom, r.tile_h, r.tile_id, r.layer_count, r.feature_count, r.payload, r.payload_size)
        for r in finals.itertuples()
    ] + _merge_tiles_batch(chunks.reset_index(drop=True), layer_order)
    assert sorted(k[:2] for k in got) == sorted(expected)
    for row in got:
        exp = expected[(row[0], row[1])]
        assert tuple(row[:5]) == tuple(exp[:5])
        assert bytes(row[5]) == bytes(exp[5]) and row[6] == exp[6]
