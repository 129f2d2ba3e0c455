"""The benchmark's workloads: pip_tile, spatial_join and knn_serve.

A workload builds its index, prepares the oracle's view of its inputs,
and then runs passes (a knn_serve pass is one request).  `inputs(i)`
makes pass i's inputs outside the timed region, `run_pass` is the timed
region, and the checks it returns run after the clock stops; `deep`
marks the one pass whose outputs get the full oracle check.  Every call
into an engine layer, and every action that runs a layer's DataFrame, is
wrapped in a tracer span named `<module>.<function>`.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

import inputs
import oracle

ZOOMS = (4, 8, 12)


class Workload:
    """Shared plumbing: the run context, the op wrapper and the checks."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.pts = ctx.corpus

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def inputs(self, i: int):
        return None


# ------------------------------------------------------------- pip_tile --


class PipTile(Workload):
    """chunk -> PIP join -> raster tiles, each committed through
    checkpoint.commit_stage (the shape of jobs/pip_tile_job.py)."""

    name = "pip_tile"

    def __init__(self, ctx):
        super().__init__(ctx)
        from tree_code_chunker_spark.sources.datagen import gen_polygons, polygon_rings

        sizes = ctx.sizes
        self.n_polygons = sizes["polygons"]
        seed = inputs.polygon_seed(ctx.seed)
        self.polys = gen_polygons(self.spark, self.n_polygons, seed=seed)
        self.rings = polygon_rings(self.n_polygons, seed)
        self.root = os.path.join(ctx.workdir, "checkpoint")
        self.index = None

    def build_index(self):
        from tree_code_chunker_spark.operators.pip import build_polygon_index

        with self.span("pip.build_polygon_index"):
            self.index = build_polygon_index(self.polys)
        return {"pip.index_broadcast_bytes": int(
            sum(a.nbytes for a in self.index.edges_bc.value)
            + self.index.n_edges_bc.value.nbytes)}

    def prepare(self, pts: oracle.Points) -> dict:
        self.oracle_pip = oracle.pip_expected(self.rings, pts)
        self.oracle_tiles = oracle.tiles_expected(pts, ZOOMS)
        self.n_points = len(pts)
        return {"polygons": self.n_polygons}

    def _commit(self, df, stage: str, runs: str):
        from tree_code_chunker_spark.operators.checkpoint import commit_stage

        with self.span("checkpoint.commit_stage", runs=runs, stage=stage) as s:
            manifest = commit_stage(df, self.root, stage)
            if s is not None:
                s["rows"], s["bytes"] = manifest["n_rows"], manifest["n_bytes"]
        return manifest

    def run_pass(self, i: int, data, deep: bool):
        from tree_code_chunker_spark.operators.chunker import chunk_documents
        from tree_code_chunker_spark.operators.pip import pip_join
        from tree_code_chunker_spark.operators.tiles import raster_tiles
        from tree_code_chunker_spark.sources.adapter import spanify

        op = self.ctx.op
        with self.span("adapter.spanify"):
            spans = spanify(self.ctx.docs)
        with self.span("chunker.chunk_documents"):
            chunks = chunk_documents(spans, max_size=1500)
        m_chunks = op("chunks", lambda: self._commit(chunks, "chunks", "chunker"))
        with self.span("pip.pip_join"):
            matches = pip_join(self.pts, index=self.index)
        m_pip = op("pip_join", lambda: self._commit(matches, "pip_matches", "pip"))
        with self.span("tiles.raster_tiles"):
            rasters = raster_tiles(self.pts, ZOOMS)
        m_tiles = op("raster_tiles",
                     lambda: self._commit(rasters, "raster_tiles", "tiles"))
        d = lambda stage: os.path.join(self.root, stage)
        return [
            ("chunks", m_chunks, lambda: oracle.check_chunks(
                d("chunks"), self.ctx.doc_ids)),
            ("pip_join", m_pip, lambda: oracle.check_pip(
                d("pip_matches"), self.oracle_pip)),
            ("raster_tiles", m_tiles, lambda: oracle.check_tiles(
                d("raster_tiles"), self.oracle_tiles, self.n_points)),
        ]

# ------------------------------------------------------------ knn_serve --


class KnnServe(Workload):
    """One client, closed loop: each request is a fresh seeded batch of
    50 queries (a quarter in hot spots), k=5, against a KnnIndex(res=10)."""

    name = "knn_serve"
    K = 5

    def build_index(self):
        from tree_code_chunker_spark.operators.knn import KnnIndex

        with self.span("knn.KnnIndex"):
            self.index = KnnIndex(self.pts, res=10)
        return {"knn.fine_cells": len(self.index.fine_sats)}

    def prepare(self, pts: oracle.Points) -> dict:
        self.oracle_pts = pts
        return {"queries_per_request": self.ctx.sizes["queries"]}

    def inputs(self, i: int):
        from tree_code_chunker_spark.sources.datagen import gen_knn_queries

        q = gen_knn_queries(self.spark, self.ctx.sizes["queries"],
                            seed=inputs.query_seed(self.ctx.seed, i))
        return q, [(r.query_id, r.qlat, r.qlon) for r in q.collect()]

    def run_pass(self, i: int, data, deep: bool):
        from tree_code_chunker_spark.operators.knn import knn_ring

        queries, rows = data

        def request():
            with self.span("knn.knn_ring"):
                res = knn_ring(queries, k=self.K, index=self.index)
            with self.span("knn.knn_ring.collect"):
                return res.toPandas()

        pdf = self.ctx.op("knn_ring", request)
        return [("knn_ring", pdf, lambda: oracle.check_knn(
            pdf, rows, self.oracle_pts, self.K))]


# --------------------------------------------------------- spatial_join --


class SpatialJoin(Workload):
    """The bucketed candidate-join family plus map matching and the
    distributed kNN self-join: bench.py's operations and input
    derivations, with sampling strides sized for the smaller corpus."""

    name = "spatial_join"
    RADIUS, CO_R, CO_DT, SNAP_R, KSELF = 800, 16, 300, 200, 4
    # input sampling strides over the corpus (span_pos % stride): the
    # colocation points, the two rectangle sides, the self-join probes
    CO_EVERY, RECT_EVERY, KNN_EVERY = 2, 16, 46

    def __init__(self, ctx):
        super().__init__(ctx)
        from tree_code_chunker_spark.operators.overlay import overlay_res

        pts, rep = self.pts, ctx.sizes["replicas"]
        self.rep = rep
        self.queries = inputs.dwithin_queries(
            self.spark, ctx.sizes["dwithin_queries"], ctx.seed)
        self.pts_t = pts.filter(F.col("span_pos") % self.CO_EVERY == 0).withColumn(
            "t_s", (F.col("doc_id") * 7919 + F.col("span_pos") * 131) % 86400)
        self.segs = pts.filter(
            (F.col("span_pos") % rep == 0) & (F.col("doc_id") % 5 != 0)).select(
            (F.col("doc_id") * 100000 + F.col("span_pos")).alias("seg_id"),
            F.col("qlat").alias("y1"), F.col("qlon").alias("x1"),
            (F.col("qlat") + (F.col("qlat") * 7 + F.col("qlon") * 3) % 2401
             - 1200).alias("y2"),
            (F.col("qlon") + (F.col("qlat") * 5 + F.col("qlon") * 11) % 2401
             - 1200).alias("x2"))

        def rects(residue, d, p):
            return pts.filter((F.col("span_pos") % self.RECT_EVERY == residue)
                              & (F.col("doc_id") % 5 != 0)).select(
                F.col("doc_id").alias(d), F.col("span_pos").alias(p),
                F.col("qlat").alias("y0"), F.col("qlon").alias("x0"),
                (F.col("qlat") + 100 + F.col("qlat") % 501).alias("y1"),
                (F.col("qlon") + 100 + F.col("qlon") % 501).alias("x1"))

        half = self.RECT_EVERY // 2
        self.ra, self.rb = rects(0, "a_doc", "a_pos"), rects(half, "b_doc", "b_pos")
        self.probes = pts.filter(F.col("span_pos") % self.KNN_EVERY == 0).select(
            F.concat_ws(":", "doc_id", "span_pos").alias("query_id"),
            "qlat", "qlon")
        self.snap_res, self.rect_res = overlay_res(512), overlay_res(601)
        self.deep_digests: dict[str, tuple] = {}

    def build_index(self):
        from tree_code_chunker_spark.operators.knn import KnnIndex

        with self.span("knn.KnnIndex"):
            self.index = KnnIndex(self.pts, res=10, res_hist=10)
        return {"knn.fine_cells": len(self.index.fine_sats)}

    def prepare(self, pts: oracle.Points) -> dict:
        self.oracle_pts = pts
        q = self.queries.toPandas()
        self.oracle_queries = tuple(q[c].to_numpy(np.int64)
                                    for c in ("query_id", "qlat", "qlon"))
        m = pts.span % self.CO_EVERY == 0
        self.oracle_t = oracle.Points(pts.doc[m], pts.span[m], pts.lat[m], pts.lon[m])
        self.oracle_t_s = (self.oracle_t.doc * 7919 + self.oracle_t.span * 131) % 86400
        m = (pts.span % self.rep == 0) & (pts.doc % 5 != 0)
        y1, x1 = pts.lat[m], pts.lon[m]
        self.oracle_segs = (pts.doc[m] * 100000 + pts.span[m], y1, x1,
                            y1 + (y1 * 7 + x1 * 3) % 2401 - 1200,
                            x1 + (y1 * 5 + x1 * 11) % 2401 - 1200)

        def rects(residue):
            m = (pts.span % self.RECT_EVERY == residue) & (pts.doc % 5 != 0)
            y0, x0 = pts.lat[m], pts.lon[m]
            return (pts.doc[m], pts.span[m], y0, x0,
                    y0 + 100 + y0 % 501, x0 + 100 + x0 % 501)

        self.oracle_ra, self.oracle_rb = rects(0), rects(self.RECT_EVERY // 2)
        return {"dwithin_queries": len(q), "colocation_points": len(self.oracle_t),
                "segments": len(self.oracle_segs[0]),
                "rects_a": len(self.oracle_ra[0]), "rects_b": len(self.oracle_rb[0]),
                "self_join_probes": int((pts.span % self.KNN_EVERY == 0).sum())}

    def _ops(self):
        from tree_code_chunker_spark.operators.knn import knn_ring
        from tree_code_chunker_spark.operators.overlay import (
            rect_overlay_join, snap_to_segments)
        from tree_code_chunker_spark.operators.spatial import (
            dwithin_join, st_colocate_join)

        o = self
        return [
            ("dwithin", "spatial.dwithin_join", lambda: dwithin_join(
                o.pts, o.queries, o.RADIUS, broadcast_b=True),
             lambda pdf: oracle.check_dwithin(
                 pdf, o.oracle_queries, o.oracle_pts, o.RADIUS)),
            ("st_colocate", "spatial.st_colocate_join", lambda: st_colocate_join(
                o.pts_t, o.CO_R, o.CO_DT),
             lambda pdf: oracle.check_st_colocate(
                 pdf, o.oracle_t, o.oracle_t_s, o.CO_R, o.CO_DT)),
            ("map_match", "overlay.snap_to_segments", lambda: snap_to_segments(
                o.pts, o.segs, o.SNAP_R, o.snap_res, p_keep=("doc_id", "span_pos")),
             lambda pdf: oracle.check_map_match(
                 pdf, o.oracle_pts, o.oracle_segs, o.SNAP_R)),
            ("rect_overlay", "overlay.rect_overlay_join", lambda: rect_overlay_join(
                o.ra, o.rb, o.rect_res, a_keep=("a_doc", "a_pos"),
                b_keep=("b_doc", "b_pos")),
             lambda pdf: oracle.check_rect_overlay(pdf, o.oracle_ra, o.oracle_rb)),
            ("knn_self", "knn.knn_ring", lambda: knn_ring(
                o.probes, k=o.KSELF, index=o.index, probe_mode="distributed",
                exclude_self=True),
             lambda pdf: oracle.check_knn_self(
                 pdf, o.oracle_pts, o.KSELF, o.KNN_EVERY)),
        ]

    def run_pass(self, i: int, data, deep: bool):
        checks = []
        for op_name, span_name, build, check in self._ops():
            path = os.path.join(self.ctx.workdir, "outputs", op_name)

            def run(op_name=op_name, build=build, span_name=span_name, path=path):
                with self.span(span_name, op=op_name):
                    df = build()
                with self.span(span_name + ".action", op=op_name) as s:
                    # the deep-checked pass writes the rows out for the
                    # oracle; other passes compute every output column into
                    # a (rows, hash sum) digest of the same rows
                    if deep:
                        df.write.mode("overwrite").parquet(path)
                        out = digest(self.spark.read.parquet(path))
                    else:
                        out = digest(df)
                    if s is not None:
                        s["rows"] = out[0]
                    return out

            out = self.ctx.op(op_name, run)
            checks.append((op_name, out, self._checker(op_name, out, check,
                                                       deep, path)))
        return checks

    def _checker(self, op_name, out, check, deep, path):
        if deep:
            def check_rows():
                self.deep_digests[op_name] = out
                return check(oracle.read_rows(path))
            return check_rows
        want = self.deep_digests.get(op_name)
        return lambda: [] if out == want else [
            f"{op_name}: (rows, hash sum) {out}, the deep-checked pass "
            f"gave {want}"]


def digest(df) -> tuple[int, int]:
    """(row count, sum of per-row hashes): forces every output column."""
    row = df.agg(F.count(F.lit(1)), F.sum(F.hash(*df.columns))).first()
    return int(row[0]), int(row[1] or 0)


WORKLOADS = {w.name: w for w in (PipTile, KnnServe, SpatialJoin)}
