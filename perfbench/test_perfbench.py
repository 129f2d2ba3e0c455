"""Tests of the benchmark itself: the metric catalogue, the oracles
(which must reject a corrupted output), smoke runs of every workload, and
seed determinism of the traced counts.

    python -m pytest perfbench/test_perfbench.py -q

The smoke runs start one Spark session each (local[nproc]), so the file
takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("pip_tile", "knn_serve", "spatial_join")


def run_bench(workload: str, seed: int, trace: int, cwd: str = ROOT,
              seconds: float = 1) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds",
         str(seconds), "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def result_of(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ------------------------------------------------------------ catalogue --


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == layers.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_doc_rows_follow_the_seed():
    a, b = inputs.doc_rows(50, 1), inputs.doc_rows(50, 2)
    assert a == inputs.doc_rows(50, 1)
    assert a != b and a[0][0] != b[0][0]  # the doc_id offset moves too
    assert inputs.n_spans([(0, " ".join(["w"] * 17))]) == 3


def test_percentile_tail_needs_ten_samples_beyond():
    import run

    assert run.percentile_tail([1.0] * 10) is None
    p, v = run.percentile_tail([float(i) for i in range(100)])
    assert p == 89 and v == 89.0


# -------------------------------------------------------------- oracles --


def test_ray_cast_counts_a_square():
    xs, ys = np.meshgrid(np.arange(10), np.arange(10))
    pts = oracle.Points(np.zeros(100), np.arange(100), ys.ravel(), xs.ravel())
    ring = [(2, 2), (2, 6), (6, 6), (6, 2), (2, 2)]
    # half-open even-odd: rows 2..5 and columns 2..5 are inside
    assert oracle.ray_cast_count(ring, pts) == 16


def test_snap_key_is_exact():
    # point (0, 1) to segment (0, 0)-(2, 2): d^2 = 1/2
    assert oracle.snap_key(0, 1, 0, 0, 2, 2) == 500_000
    # beyond the end point: plain squared distance
    assert oracle.snap_key(5, 5, 0, 0, 2, 2) == 18 * 1_000_000


@pytest.fixture(scope="module")
def engine(tmp_path_factory):
    """A small corpus on a local Spark session, plus the oracle's view."""
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = run.start_session("tests", 2, work, trace=False)
    rows = inputs.doc_rows(300, 7)
    docs = inputs.docs_frame(spark, rows).cache()
    corpus = inputs.build_corpus(spark, docs, 4, 4)
    pdf = corpus.toPandas()
    pts = oracle.Points(*(pdf[c].to_numpy("int64")
                          for c in ("doc_id", "span_pos", "qlat", "qlon")))
    yield {"spark": spark, "docs": docs, "corpus": corpus, "pdf": pdf,
           "pts": pts, "rows": rows, "work": work}
    run.stop_spark(spark)


def _write(df, engine, name) -> str:
    path = os.path.join(engine["work"], name)
    df.write.mode("overwrite").parquet(path)
    return path


def test_corpus_check_catches_a_wrong_cell(engine):
    pdf = engine["pdf"]
    n = inputs.n_spans(engine["rows"]) * 4
    assert oracle.check_corpus(pdf, n) == []
    bad = pdf.copy()
    bad.loc[0, "cell"] += 1
    assert oracle.check_corpus(bad, n)
    assert oracle.check_corpus(pdf, n + 1)


def test_pip_and_tile_checks_catch_corruption(engine):
    from pyspark.sql import functions as F
    from tree_code_chunker_spark.operators.pip import build_polygon_index, pip_join
    from tree_code_chunker_spark.operators.tiles import raster_tiles
    from tree_code_chunker_spark.sources.datagen import gen_polygons, polygon_rings

    spark, corpus, pts = engine["spark"], engine["corpus"], engine["pts"]
    rings = polygon_rings(60, 5)
    want = oracle.pip_expected(rings, pts, n_sample=10)
    assert want["poly00000"] > 0  # polygon 0 covers a hot cell
    matches = pip_join(corpus, index=build_polygon_index(gen_polygons(spark, 60, 5)))
    assert oracle.check_pip(_write(matches, engine, "pip"), want) == []
    dropped = matches.filter(F.col("polygon_id") != "poly00000")
    assert oracle.check_pip(_write(dropped, engine, "pip_bad"), want)

    zooms = (4, 8)
    tiles = raster_tiles(corpus, zooms)
    want_t = oracle.tiles_expected(pts, zooms)
    assert oracle.check_tiles(_write(tiles, engine, "t"), want_t, len(pts)) == []
    off = tiles.withColumn("n_points", F.col("n_points") + 1)
    assert oracle.check_tiles(_write(off, engine, "t_bad"), want_t, len(pts))


def test_chunk_check_catches_a_missing_document(engine):
    from pyspark.sql import functions as F
    from tree_code_chunker_spark.operators.chunker import chunk_documents
    from tree_code_chunker_spark.sources.adapter import spanify

    ids = {d for d, _ in engine["rows"]}
    chunks = chunk_documents(spanify(engine["docs"]), max_size=1500)
    assert oracle.check_chunks(_write(chunks, engine, "c"), ids) == []
    first = str(min(ids))
    bad = chunks.filter(F.col("doc_id") != first)
    assert oracle.check_chunks(_write(bad, engine, "c_bad"), ids)


def test_knn_checks_catch_corruption(engine):
    from pyspark.sql import functions as F
    from tree_code_chunker_spark.operators.knn import KnnIndex, knn_ring
    from tree_code_chunker_spark.sources.datagen import gen_knn_queries

    spark, corpus, pts = engine["spark"], engine["corpus"], engine["pts"]
    q = gen_knn_queries(spark, 20, seed=3)
    rows = [(r.query_id, r.qlat, r.qlon) for r in q.collect()]
    index = KnnIndex(corpus, res=10)
    got = knn_ring(q, k=5, index=index).toPandas()
    assert oracle.check_knn(got, rows, pts, 5) == []
    bad = got.copy()
    bad.loc[bad.index[0], "doc_id"] += 1
    assert oracle.check_knn(bad, rows, pts, 5)

    probes = corpus.filter(F.col("span_pos") % 3 == 0).select(
        F.concat_ws(":", "doc_id", "span_pos").alias("query_id"), "qlat", "qlon")
    self_index = KnnIndex(corpus, res=10, res_hist=10)
    got = knn_ring(probes, k=4, index=self_index, probe_mode="distributed",
                   exclude_self=True).toPandas()
    assert oracle.check_knn_self(got, pts, 4, 3) == []
    assert oracle.check_knn_self(got.assign(d2=got["d2"] + 1), pts, 4, 3)


def test_spatial_join_checks_catch_corruption(engine):
    from pyspark.sql import functions as F
    from tree_code_chunker_spark.operators.overlay import (
        overlay_res, rect_overlay_join, snap_to_segments)
    from tree_code_chunker_spark.operators.spatial import dwithin_join, st_colocate_join

    spark, corpus, pts = engine["spark"], engine["corpus"], engine["pts"]
    # dwithin: queries placed inside the checked bbox
    qrows = [(i, 20000 + 300 * i, 38000 + 400 * i) for i in range(15)]
    q = spark.createDataFrame(qrows, "query_id long, qlat bigint, qlon bigint")
    qarr = tuple(np.array(c, dtype=np.int64) for c in zip(*qrows))
    got = dwithin_join(corpus, q, 3000, broadcast_b=True).toPandas()
    assert len(got) and oracle.check_dwithin(got, qarr, pts, 3000) == []
    assert oracle.check_dwithin(got.assign(d2=got["d2"] + 1), qarr, pts, 3000)

    t = corpus.withColumn(
        "t_s", (F.col("doc_id") * 7919 + F.col("span_pos") * 131) % 86400)
    t_s = (pts.doc * 7919 + pts.span * 131) % 86400
    got = st_colocate_join(t, 16, 20000).toPandas()
    assert len(got) and oracle.check_st_colocate(got, pts, t_s, 16, 20000) == []
    assert oracle.check_st_colocate(got.assign(d2=got["d2"] + 1), pts, t_s, 16, 20000)

    segs = corpus.filter(F.col("span_pos") % 4 == 0).select(
        (F.col("doc_id") * 1000 + F.col("span_pos")).alias("seg_id"),
        F.col("qlat").alias("y1"), F.col("qlon").alias("x1"),
        (F.col("qlat") + 150).alias("y2"), (F.col("qlon") - 90).alias("x2"))
    m = pts.span % 4 == 0
    sarr = (pts.doc[m] * 1000 + pts.span[m], pts.lat[m], pts.lon[m],
            pts.lat[m] + 150, pts.lon[m] - 90)
    got = snap_to_segments(corpus, segs, 200, overlay_res(400),
                           p_keep=("doc_id", "span_pos")).toPandas()
    assert oracle.check_map_match(got, pts, sarr, 200) == []
    bad = got.assign(dist2_e6=got["dist2_e6"] + 1)
    assert oracle.check_map_match(bad, pts, sarr, 200)

    def rects(mod, d, p):
        m = pts.span % 2 == mod
        arr = (pts.doc[m], pts.span[m], pts.lat[m], pts.lon[m],
               pts.lat[m] + 500, pts.lon[m] + 700)
        df = corpus.filter(F.col("span_pos") % 2 == mod).select(
            F.col("doc_id").alias(d), F.col("span_pos").alias(p),
            F.col("qlat").alias("y0"), F.col("qlon").alias("x0"),
            (F.col("qlat") + 500).alias("y1"), (F.col("qlon") + 700).alias("x1"))
        return df, arr

    (ra, a_arr), (rb, b_arr) = rects(0, "a_doc", "a_pos"), rects(1, "b_doc", "b_pos")
    got = rect_overlay_join(ra, rb, overlay_res(701), a_keep=("a_doc", "a_pos"),
                            b_keep=("b_doc", "b_pos")).toPandas()
    assert len(got) and oracle.check_rect_overlay(got, a_arr, b_arr) == []
    bad = got.assign(inter_area=got["inter_area"] + 1)
    assert oracle.check_rect_overlay(bad, a_arr, b_arr)


# ----------------------------------------------------------- smoke runs --


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_is_correct_and_reports_every_metric(workload):
    res = result_of(run_bench(workload, 1, 0))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert [(n, m["unit"]) for n, m in res["metrics"].items()] == layers.END_TO_END
    assert all(m["value"] > 0 for m in res["metrics"].values())


COUNTS = {
    "pip_tile": ("pip.candidates", "pip.udf_rows", "pip.matches",
                 "tiles.rows_out", "chunker.python_rows"),
    "knn_serve": ("knn.candidates",),
    # at smoke size the two rectangle sides have no intersecting pair
    "spatial_join": ("knn.candidates", "overlay.map_match_candidates",
                     "spatial.st_colocate_pairs", "spatial.dwithin_pairs"),
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_counts_repeat_for_a_seed_and_move_with_it(workload):
    # --seconds 0 runs exactly one timed pass: knn_serve draws new queries
    # for every request, so its per-request median depends on the count
    runs = [result_of(run_bench(workload, s, 1, seconds=0)) for s in (1, 1, 2)]
    for res in runs:
        assert res["correct"]
        assert [(n, m["unit"]) for n, m in res["metrics"].items()] == layers.PER_LAYER
        assert res["metrics"]["trace.span_coverage"]["value"] >= 0.9
    first, again, other = ({n: r["metrics"][n]["value"] for n in COUNTS[workload]}
                           for r in runs)
    assert first == again
    assert all(v > 0 for v in first.values())
    assert first != other


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("results", "_work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pip_tile", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
