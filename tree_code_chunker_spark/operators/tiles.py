"""Raster/vector tile materialization at fixed zoom levels.

north_star: "raster<->vector tile materialization at fixed zoom levels with
deterministic tile assignment".  Assignment is pure integer column math
(geo.tile_cols — whole-stage codegen, bit-exact) emitted for every zoom in
one projection; materialization aggregates on the (z, x, y) key:

 * **vector tiles**: per (z,x,y), the list of features (doc_id, span_pos,
   in-tile quantized coords), capped at max_features_per_tile by a
   deterministic total order (row_number over (d2-free) key sort) — the cap
   bounds tile payload size so a hot tile cannot OOM a task; dropped counts
   are reported, never silent.
 * **raster tiles**: per (z,x,y), a sub_bits x sub_bits count grid (the
   rasterization), stored sparse as (pixel_index, count) pairs — dense
   256x256 arrays would be mostly zeros at high zooms: one projection, two
   aggregations (per pixel, then per tile).

Scale: all zooms share one shuffle per aggregation on the (z,x,y) key; hot
tiles are exactly hot cells, so `salted_repartition` (operators/skew.py)
applies when a census flags them; AQE handles moderate skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..config import GRID_BITS, TILE_ZOOMS
from .geo import GRID_MAX, tile_cols


def _zoom_tiles(zooms: tuple[int, ...], sub_bits: int | None = None) -> Column:
    """inline(array(struct(z, x, y, in_x, in_y) per zoom)): a point's tile and
    its north-up offset inside the tile — with `sub_bits`, down-sampled to
    the tile's 2^sub_bits raster grid (zooms whose tiles are already at or
    below pixel resolution keep the full offset)."""
    def tile(z):
        tx, ty = tile_cols(F.col("qlat"), F.col("qlon"), z)
        shift = GRID_BITS - z
        down = max(shift - sub_bits, 0) if sub_bits is not None else 0
        mask = F.lit((1 << shift) - 1)
        return F.struct(
            F.lit(z).alias("z"), tx.alias("x"), ty.alias("y"),
            F.shiftright(F.col("qlon").bitwiseAND(mask), down).alias("in_x"),
            F.shiftright((F.lit(GRID_MAX) - F.col("qlat")).bitwiseAND(mask),
                         down).alias("in_y"),
        )
    return F.inline(F.array(*[tile(z) for z in zooms]))


def assign_tiles(points: DataFrame, zooms: tuple[int, ...] = TILE_ZOOMS) -> DataFrame:
    """points(qlat, qlon, ...) -> one row per (point, zoom) with z/x/y and
    in-tile pixel offsets."""
    return points.select("*", _zoom_tiles(zooms))


def vector_tiles(
    points: DataFrame,
    zooms: tuple[int, ...] = TILE_ZOOMS,
    max_features_per_tile: int = 10_000,
    feature_cols: tuple[str, ...] = ("doc_id", "span_pos"),
    salt_threshold_rows: int | None = 200_000,
    n_salts: int = 16,
) -> DataFrame:
    """(z, x, y, features array<struct>, n_features, n_dropped).

    Skew handling (north_rule "hot cells handled explicitly"): the per-tile
    cap is a row_number window — on a hot tile that is ONE task scanning
    every row.  When a census (skew.hot_keys over the tile key) flags tiles
    above salt_threshold_rows, hot tiles take a TWO-PHASE cap: rank within
    (tile, salt) and keep max_features per salt — the global deterministic
    top-N is a subset of the union of per-salt top-Ns, so phase 2's final
    rank over <= n_salts * max_features survivors is exact and small.  Cold
    tiles keep the single-pass rank.  Output is identical with or without
    salting (tests pin this); salt_threshold_rows=None disables the census.
    """
    t = assign_tiles(points, zooms)
    w = Window.partitionBy("z", "x", "y").orderBy(
        *[F.col(c).asc() for c in feature_cols]
    )
    totals = t.groupBy("z", "x", "y").agg(F.count("*").alias("n_total"))
    if salt_threshold_rows is not None:
        # census straight off `totals` (needed for accounting anyway — a
        # partial-agg groupBy, no extra full sort); only HOT-tile rows pay
        # the two-phase path, cold rows keep the single window untouched
        hot_set = F.broadcast(
            totals.filter(F.col("n_total") > salt_threshold_rows)
            .select("z", "x", "y").withColumn("_hot", F.lit(True))
        )
        t2 = t.join(hot_set, ["z", "x", "y"], "left")
        cold = t2.filter(F.col("_hot").isNull()).drop("_hot")
        hot_rows = t2.filter(F.col("_hot").isNotNull()).drop("_hot")
        w_salt = Window.partitionBy("z", "x", "y", "_salt").orderBy(
            *[F.col(c).asc() for c in feature_cols]
        )
        hot_pre = (
            hot_rows.withColumn(
                "_salt", F.pmod(F.hash(*feature_cols), F.lit(n_salts)))
            .withColumn("_prn", F.row_number().over(w_salt))
            .filter(F.col("_prn") <= max_features_per_tile)
            .drop("_salt", "_prn")
        )  # <= n_salts * max survivors per hot tile: phase 2 is small+exact
        kept = (
            cold.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_features_per_tile)
            .unionByName(
                hot_pre.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_features_per_tile)
            )
        )
    else:
        kept = t.withColumn("_rn", F.row_number().over(w)) \
            .filter(F.col("_rn") <= max_features_per_tile)
    agg = kept.groupBy("z", "x", "y").agg(
        F.sort_array(
            F.collect_list(F.struct(*feature_cols, "in_x", "in_y"))
        ).alias("features"),
    )
    return (
        agg.join(totals, ["z", "x", "y"])
        .withColumn("n_features", F.size("features"))
        .withColumn("n_dropped", F.col("n_total") - F.col("n_features"))
        .drop("n_total")
    )


def raster_tiles(
    points: DataFrame,
    zooms: tuple[int, ...] = TILE_ZOOMS,
    sub_bits: int = 8,
) -> DataFrame:
    """(z, x, y, pixels array<struct<px:int,py:int,n:bigint>>, n_points) —
    sparse 2^sub_bits x 2^sub_bits count raster per tile."""
    pix = (
        points.select(_zoom_tiles(zooms, sub_bits))
        .groupBy("z", "x", "y",
                 F.col("in_x").cast("int").alias("px"),
                 F.col("in_y").cast("int").alias("py"))
        .agg(F.count("*").alias("n"))
    )
    return (
        pix.groupBy("z", "x", "y")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("px", "py", "n"))
            ).alias("pixels"),
            F.sum("n").alias("n_points"),
        )
    )


def raster_to_vector(rasters: DataFrame, min_count: int = 1) -> DataFrame:
    """Inverse materialization (the '<->' in raster<->vector): sparse raster
    tiles back to per-pixel feature rows (z, x, y, px, py, n) — e.g. to
    re-vectorize a heatmap above a threshold.  Pure explode, no shuffle."""
    return (
        rasters.select(
            "z", "x", "y",
            F.explode("pixels").alias("p"),
        )
        .select(
            "z", "x", "y",
            F.col("p.px").alias("px"),
            F.col("p.py").alias("py"),
            F.col("p.n").alias("n"),
        )
        .filter(F.col("n") >= min_count)
    )


# 3x3 integer smoothing kernel (binomial outer product [1,2,1]^T [1,2,1]):
# center 4, edges 2, corners 1 — sums to 16, so smoothed/16 is the box-blur
# mean; kept UNnormalized so the operator stays integer-exact end to end.
SMOOTH_KERNEL = [(dy, dx, (2 - abs(dy)) * (2 - abs(dx)))
                 for dy in (-1, 0, 1) for dx in (-1, 0, 1)]


def raster_smooth(hist: DataFrame, res: int,
                  count_col: str = "n") -> DataFrame:
    """Integer 3x3 binomial convolution of a sparse cell histogram.

    hist(cy, cx, count_col) at resolution `res` -> (cy, cx, smoothed) where
    smoothed = sum over the 3x3 neighborhood of kernel_weight * count.
    Classic raster map-algebra focal operation, kept sparse: each input
    cell scatters to its (in-grid) 9 neighbors (explode, narrow) and one
    hash aggregation gathers per target cell — so cost is O(nonzero cells),
    never O(grid).  Cells outside the res-grid are dropped (no wraparound);
    only cells receiving at least one contribution appear (zero cells of a
    sparse histogram stay absent).
    """
    n_cells = 1 << res
    k = F.explode(F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"),
                 F.lit(w).alias("w"))
        for dy, dx, w in SMOOTH_KERNEL
    ])).alias("k")
    return (
        hist.select("cy", "cx", F.col(count_col).alias("_n"))
        .select("*", k)
        .select(
            (F.col("cy") + F.col("k.dy")).alias("cy"),
            (F.col("cx") + F.col("k.dx")).alias("cx"),
            (F.col("_n") * F.col("k.w")).alias("_c"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < n_cells)
                & (F.col("cx") >= 0) & (F.col("cx") < n_cells))
        .groupBy("cy", "cx")
        .agg(F.sum("_c").alias("smoothed"))
    )


def hotspot_gi(hist: DataFrame, res: int, count_col: str = "n",
               by: tuple = ()) -> DataFrame:
    """Getis-Ord Gi* hotspot statistic over a sparse cell histogram.

    hist(cy, cx, count_col) at resolution `res` -> one row per cell with a
    non-empty 3x3 neighborhood: (cy, cx, wx, w, gi_z) where

      wx   = sum of counts over the in-grid 3x3 neighborhood (incl. self —
             the * in Gi*),
      w    = the neighborhood size (9, fewer on grid edges; binary weights),
      gi_z = (wx - mean*w) / (sd * sqrt((N*w - w*w) / (N-1)))

    with N = 4^res (the study region is the WHOLE grid — absent cells are
    x=0, the standard raster framing), mean = sum(x)/N and
    sd = sqrt(sum(x^2)/N - mean^2) over that region.  gi_z is the classic
    Gi* z-score (Getis & Ord 1995, binary row weights): |gi_z| > 1.96 flags
    hot/cold spots at the 5% level.

    Determinism/mirroring contract: every input to the float expression is
    an EXACT integer aggregate (wx, w, sum, sum of squares); the z-score is
    then a fixed tree of IEEE-754 +,-,*,/,sqrt — each correctly rounded, so
    any engine evaluating the same tree over the same integers produces the
    same bits (the SQL oracle mirrors the tree verbatim).

    Scale shape: one 9x scatter + hash gather (identical to raster_smooth,
    O(nonzero cells)) plus a ONE-ROW global aggregate that rides the plan as
    a broadcast cross join — no second pass over the data, no collect.

    `by` generalizes the statistic to independent sub-histograms sharing one
    plan (e.g. one Gi* surface PER event-time window for the streaming twin):
    moments become per-group (one row each, still broadcast — group count is
    the window count, not the cell count) and the scatter/gather keys gain
    the group columns.  by=() keeps the original single-surface plan.
    """
    by = list(by)
    n_cells = 1 << res
    nf = float(n_cells) * float(n_cells)  # N as an exact double
    moments = [
        F.sum(count_col).cast("double").alias("_s1"),
        F.sum(F.col(count_col) * F.col(count_col)).cast("double").alias("_s2"),
    ]
    g = hist.groupBy(*by).agg(*moments) if by else hist.agg(*moments)
    k = F.explode(F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])).alias("k")
    wx = (
        hist.select(*by, "cy", "cx", F.col(count_col).alias("_n"))
        .select("*", k)
        .select(
            *by,
            (F.col("cy") + F.col("k.dy")).alias("cy"),
            (F.col("cx") + F.col("k.dx")).alias("cx"),
            F.col("_n"),
        )
        .filter((F.col("cy") >= 0) & (F.col("cy") < n_cells)
                & (F.col("cx") >= 0) & (F.col("cx") < n_cells))
        .groupBy(*by, "cy", "cx")
        .agg(F.sum("_n").cast("long").alias("wx"))
    )
    hi = F.lit(n_cells - 1)
    w_int = (
        (F.least(F.col("cy") + 1, hi) - F.greatest(F.col("cy") - 1, F.lit(0)) + 1)
        * (F.least(F.col("cx") + 1, hi) - F.greatest(F.col("cx") - 1, F.lit(0)) + 1)
    ).cast("int")
    mean = F.col("_s1") / F.lit(nf)
    wd = F.col("w").cast("double")
    z = (
        (F.col("wx").cast("double") - mean * wd)
        / (F.sqrt(F.col("_s2") / F.lit(nf) - mean * mean)
           * F.sqrt((F.lit(nf) * wd - wd * wd) / F.lit(nf - 1.0)))
    )
    joined = wx.join(F.broadcast(g), on=by) if by \
        else wx.crossJoin(F.broadcast(g))
    return (
        joined
        .withColumn("w", w_int)
        .withColumn("gi_z", z)
        .select(*by, "cy", "cx", "wx", "w", "gi_z")
    )


def layout_by_cell(df: DataFrame, n_files: int,
                   qlat_col: str = "qlat", qlon_col: str = "qlon",
                   extra_sort: tuple = (), keep_key: bool = False) -> DataFrame:
    """Z-order data layout: range-partition rows across ``n_files``
    output partitions by their full-resolution Morton cell and sort
    within each partition, so a parquet write of the result carries
    per-file min/max statistics that are spatially TIGHT — any later
    bbox/radius/cover scan prunes to the handful of files whose
    z-interval intersects the query instead of reading the corpus.

    This is the write-side half of every spatial operator in the
    engine: the read-side prunes (dwithin cell buckets, PIP covers, kNN
    ring scans) become file-skipping prunes when the data on disk is
    z-clustered.  One range shuffle (sampled boundaries, balanced
    files regardless of spatial skew), one in-partition sort — the
    standard table-layout maintenance job a 100 TB deployment runs
    after ingest, same contract as Delta/Iceberg Z-ORDER compaction
    (public technique; Morton interleave per geo.cell_col).

    ``extra_sort`` appends secondary in-file sort keys (e.g. a time
    column for spatiotemporal range scans).  ``keep_key`` retains the
    z-key column (``zkey``) for inspection; by default the layout is
    invisible to the schema, exactly like engine-side clustering.
    """
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    if "zkey" in df.columns:
        # silently overwriting (and, with keep_key=False, dropping) a
        # user column of the same name would lose data
        raise ValueError(
            "input already has a 'zkey' column; rename it before calling "
            "layout_by_cell")
    from .geo import cell_col as _cell_col
    out = (
        df.withColumn("zkey", _cell_col(F.col(qlat_col), F.col(qlon_col)))
        .repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey", *extra_sort)
    )
    return out if keep_key else out.drop("zkey")
