"""Tile materialization: assignment determinism, vector cap accounting,
raster pixel-count conservation."""

import numpy as np
from pyspark.sql import functions as F

from tree_code_chunker_spark.operators.geo import tile_np
from tree_code_chunker_spark.operators.tiles import (
    assign_tiles,
    raster_tiles,
    vector_tiles,
)


def _pts(spark, n=500, seed=3):
    rng = np.random.RandomState(seed)
    rows = [(f"d{i:04d}", 0, int(rng.randint(0, 65536)), int(rng.randint(0, 65536)))
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id string, span_pos int, qlat bigint, qlon bigint")


def test_assignment_matches_numpy(spark):
    pts = _pts(spark)
    got = assign_tiles(pts, zooms=(4, 8, 12)).collect()
    for r in got:
        x, y = tile_np(np.array([r["qlat"]]), np.array([r["qlon"]]), r["z"])
        assert (r["x"], r["y"]) == (int(x[0]), int(y[0]))
        assert 0 <= r["in_x"] < (1 << (16 - r["z"]))
        assert 0 <= r["in_y"] < (1 << (16 - r["z"]))


def test_vector_tiles_cap_and_accounting(spark):
    # all points in ONE tile at z=4 -> cap must kick in with exact accounting
    rows = [(f"d{i:04d}", 0, 100 + i % 50, 200 + i % 50) for i in range(300)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos int, qlat bigint, qlon bigint")
    out = vector_tiles(pts, zooms=(4,), max_features_per_tile=100).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_features"] == 100 and r["n_dropped"] == 200
    # deterministic cap: lexicographically first doc_ids kept
    kept = [f["doc_id"] for f in r["features"]]
    assert kept == sorted(kept)


def test_raster_counts_conserved(spark):
    pts = _pts(spark, 400)
    out = raster_tiles(pts, zooms=(4, 8)).collect()
    by_zoom = {}
    for r in out:
        by_zoom[r["z"]] = by_zoom.get(r["z"], 0) + r["n_points"]
        assert sum(p["n"] for p in r["pixels"]) == r["n_points"]
        for p in r["pixels"]:
            assert 0 <= p["px"] < 256 and 0 <= p["py"] < 256
    assert by_zoom == {4: 400, 8: 400}


def test_raster_tiles_exact_vs_numpy(spark):
    """Every tile's sparse pixel grid and n_points equal a numpy histogram of
    the in-tile offsets, down-shifted to the 2^8 raster grid (z=12 has shift
    4 <= sub_bits, so its offsets are used as they are)."""
    rng = np.random.RandomState(11)
    qlat = np.concatenate([rng.randint(0, 65536, 700),
                           rng.randint(30000, 30040, 300)]).astype(np.int64)
    qlon = np.concatenate([rng.randint(0, 65536, 700),
                           rng.randint(41000, 41040, 300)]).astype(np.int64)
    pts = spark.createDataFrame(
        [(f"d{i:04d}", 0, int(a), int(b)) for i, (a, b) in
         enumerate(zip(qlat, qlon))],
        "doc_id string, span_pos int, qlat bigint, qlon bigint")
    sub_bits = 8
    want = {}
    for z in (4, 8, 12):
        x, y = tile_np(qlat, qlon, z)
        mask = (1 << (16 - z)) - 1
        down = max(16 - z - sub_bits, 0)
        px = (qlon & mask) >> down
        py = ((65535 - qlat) & mask) >> down
        keys, counts = np.unique(np.stack([x, y, px, py], axis=1), axis=0,
                                 return_counts=True)
        for (tx, ty, a, b), n in zip(keys.tolist(), counts.tolist()):
            want.setdefault((z, tx, ty), []).append((a, b, n))
    out = raster_tiles(pts, zooms=(4, 8, 12), sub_bits=sub_bits)
    assert out.schema.simpleString() == (
        "struct<z:int,x:bigint,y:bigint,"
        "pixels:array<struct<px:int,py:int,n:bigint>>,n_points:bigint>")
    assert [f.nullable for f in out.schema] == [False, True, True, False, True]
    got = {(r["z"], r["x"], r["y"]): (
        [tuple(p) for p in r["pixels"]], r["n_points"]) for r in out.collect()}
    assert got == {k: (sorted(v), sum(n for *_, n in v))
                   for k, v in want.items()}
    assert max(n for pix, _ in got.values() for *_, n in pix) > 1  # hot pixels


def test_tiles_deterministic_across_parallelism(spark):
    pts = _pts(spark, 600)
    a = vector_tiles(pts.repartition(1), zooms=(8,)).collect()
    b = vector_tiles(pts.repartition(7), zooms=(8,)).collect()
    norm = lambda rows: sorted(
        (r["z"], r["x"], r["y"], tuple(tuple(f) for f in r["features"]),
         r["n_dropped"]) for r in rows)
    assert norm(a) == norm(b)


def test_vector_tiles_salted_cap_matches_unsalted(spark):
    """The two-phase hot-tile cap must be output-identical to the plain
    single-window cap (the global deterministic top-N is a subset of the
    union of per-salt top-Ns)."""
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.tiles import vector_tiles

    # one hot tile (all rows in tile 0/0 at z=4) + scattered cold rows
    rows = [(f"d{i:05d}", i, i % 97, i % 89) for i in range(3000)]
    rows += [(f"s{i:05d}", i, (i * 733) % 65536, (i * 577) % 65536)
             for i in range(500)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long")
    plain = vector_tiles(pts, zooms=(4,), max_features_per_tile=50,
                         salt_threshold_rows=None)
    salted = vector_tiles(pts, zooms=(4,), max_features_per_tile=50,
                          salt_threshold_rows=1000, n_salts=8)
    cols = ["z", "x", "y", "features", "n_features", "n_dropped"]
    a = sorted(tuple(r[c] for c in cols) for r in plain.collect())
    b = sorted(tuple(r[c] for c in cols) for r in salted.collect())
    assert a == b
    hot = [r for r in salted.collect() if r["n_dropped"] > 0]
    assert hot  # the hot tile actually overflowed the cap


def test_raster_to_vector_roundtrip_conserves_counts(spark):
    from pyspark.sql import functions as F

    from tree_code_chunker_spark.operators.tiles import (
        raster_tiles,
        raster_to_vector,
    )

    rows = [(f"d{i}", i, (i * 733) % 65536, (i * 577) % 65536)
            for i in range(2000)]
    pts = spark.createDataFrame(
        rows, "doc_id string, span_pos long, qlat long, qlon long")
    r = raster_tiles(pts, zooms=(4, 8), sub_bits=8)
    v = raster_to_vector(r)
    per_zoom = {row["z"]: row["s"] for row in
                v.groupBy("z").agg(F.sum("n").alias("s")).collect()}
    assert per_zoom == {4: 2000, 8: 2000}  # every point re-vectorized once


def test_raster_smooth_vs_numpy_convolution(spark):
    import numpy as np

    from tree_code_chunker_spark.operators.tiles import raster_smooth

    rng = np.random.RandomState(17)
    res = 4  # 16x16 grid, small enough for a dense numpy mirror
    n = 1 << res
    grid = np.zeros((n, n), dtype=np.int64)
    cells = [(int(rng.randint(0, n)), int(rng.randint(0, n)),
              int(rng.randint(1, 50))) for _ in range(40)]
    for cy, cx, c in cells:
        grid[cy, cx] += c
    hist = [(cy, cx, int(grid[cy, cx])) for cy in range(n) for cx in range(n)
            if grid[cy, cx] > 0]
    df = spark.createDataFrame(hist, "cy bigint, cx bigint, n bigint")
    got = {(r.cy, r.cx): r.smoothed
           for r in raster_smooth(df, res).collect()}

    kernel = np.outer([1, 2, 1], [1, 2, 1])
    want = np.zeros_like(grid)
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            w = kernel[dy + 1, dx + 1]
            src_ys = slice(max(0, -dy), n - max(0, dy))
            src_xs = slice(max(0, -dx), n - max(0, dx))
            dst_ys = slice(max(0, dy), n + min(0, dy))
            dst_xs = slice(max(0, dx), n + min(0, dx))
            want[dst_ys, dst_xs] += w * grid[src_ys, src_xs]
    for cy in range(n):
        for cx in range(n):
            assert got.get((cy, cx), 0) == want[cy, cx] or (
                (cy, cx) not in got and want[cy, cx] == 0)
