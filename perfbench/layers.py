"""Metric catalogue and the per-layer fold of a traced run.

END_TO_END and PER_LAYER are the metric lists BENCHMARK.json declares
(a test keeps the two in step).  `derive` turns a traced run's spans and
the event-log fold (tracing.fold) into the PER_LAYER values.  Every
workload reports every metric; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import statistics

from tracing import node_sum, self_times

END_TO_END = [
    ("setup_s", "s"),
    ("index_build_s", "s"),
    ("pass_s", "s"),
    ("peak_rss_mb", "MB"),
]

PER_LAYER = [
    ("session.start_s", "s"),
    ("geo.corpus_build_s", "s"),
    ("run.warmup_s", "s"),
    ("spark.jobs_per_pass", "count"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.gc_s", "s"),
    ("spark.core_busy_ratio", "ratio"),
    ("trace.span_coverage", "ratio"),
    ("chunker.chunk_s", "s"),
    ("chunker.python_rows", "count"),
    ("pip.index_build_s", "s"),
    ("pip.index_broadcast_bytes", "bytes"),
    ("pip.join_s", "s"),
    ("pip.candidates", "count"),
    ("pip.udf_rows", "count"),
    ("pip.udf_time_s", "s"),
    ("pip.matches", "count"),
    ("pip.match_ratio", "ratio"),
    ("pip.task_skew", "ratio"),
    ("tiles.raster_s", "s"),
    ("tiles.shuffle_write_bytes", "bytes"),
    ("tiles.rows_out", "count"),
    ("checkpoint.commit_s", "s"),
    ("checkpoint.bytes_written", "bytes"),
    ("checkpoint.bytes_per_row", "bytes/row"),
    ("knn.index_build_s", "s"),
    ("knn.fine_cells", "count"),
    ("knn.plan_s", "s"),
    ("knn.execute_s", "s"),
    ("knn.jobs_per_request", "count"),
    ("knn.candidates", "count"),
    ("knn.candidates_per_result", "ratio"),
    ("knn.shuffle_bytes", "bytes"),
    ("knn.task_skew", "ratio"),
    ("knn.self_join_s", "s"),
    ("overlay.map_match_s", "s"),
    ("overlay.map_match_candidates", "count"),
    ("overlay.map_match_useful_ratio", "ratio"),
    ("overlay.map_match_shuffle_bytes", "bytes"),
    ("overlay.map_match_task_skew", "ratio"),
    ("overlay.rect_overlay_s", "s"),
    ("overlay.rect_overlay_pairs", "count"),
    ("overlay.rect_overlay_task_skew", "ratio"),
    ("spatial.st_colocate_s", "s"),
    ("spatial.st_colocate_pairs", "count"),
    ("spatial.st_colocate_task_skew", "ratio"),
    ("spatial.dwithin_s", "s"),
    ("spatial.dwithin_pairs", "count"),
]

ROWS = "number of output rows"
EMPTY_GROUP = {"jobs": 0, "job_wall_s": 0.0, "write_job_wall_s": 0.0,
               "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
               "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
               "spill_bytes": 0, "output_bytes": 0, "node": {},
               "task_skew": 1.0}


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class PassView:
    """One timed pass: its spans and their folded job metrics."""

    def __init__(self, root: dict, spans: list[dict], groups: dict,
                 selft: dict):
        self.root, self.groups, self.selft = root, groups, selft
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        self.children = kids.get(root["id"], [])
        self.all = [root]
        stack = list(self.children)
        while stack:
            s = stack.pop()
            self.all.append(s)
            stack.extend(kids.get(s["id"], ()))

    def g(self, s: dict) -> dict:
        return self.groups.get(f"pb{s['id']}", EMPTY_GROUP)

    def named(self, name: str, **attrs) -> list[dict]:
        return [s for s in self.all if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    def total(self, key: str, spans=None) -> float:
        return sum(self.g(s)[key] for s in (self.all if spans is None else spans))

    def nodes(self, spans, node: str, metric: str = ROWS) -> int:
        return sum(node_sum(self.g(s), node, metric) for s in spans)

    def dur(self, spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def skew(self, spans) -> float:
        busiest = max(spans, key=lambda s: self.g(s)["run_s"], default=None)
        return self.g(busiest)["task_skew"] if busiest else 0.0

    @property
    def wall(self) -> float:
        return self.root["end"] - self.root["start"]


def _pip_tile(p: PassView) -> dict:
    commits = p.named("checkpoint.commit_stage")

    def runs(layer):
        return [s for s in commits if s.get("runs") == layer]

    def compute_s(layer, calls):
        # the commit's write job runs the layer's lazy plan; the rest of
        # the commit (read-back, manifest) is the checkpoint layer's
        write = sum(min(p.g(s)["write_job_wall_s"], s["end"] - s["start"])
                    for s in runs(layer))
        return write + sum(p.selft[s["id"]] for s in calls)

    pip_c = runs("pip")
    cand = p.nodes(pip_c, "Join")
    matches = sum(s.get("rows", 0) for s in pip_c)
    rows = sum(s.get("rows", 0) for s in commits)
    written = sum(s.get("bytes", 0) for s in commits)
    commit_s = p.dur(commits) - sum(
        compute_s(layer, []) for layer in ("chunker", "pip", "tiles"))
    return {
        "chunker.chunk_s": compute_s("chunker", p.named("adapter.spanify")
                                     + p.named("chunker.chunk_documents")),
        "chunker.python_rows": p.nodes(runs("chunker"), "MapInPandas"),
        "pip.join_s": compute_s("pip", p.named("pip.pip_join")),
        "pip.candidates": cand,
        "pip.udf_rows": p.nodes(pip_c, "ArrowEvalPython"),
        "pip.udf_time_s": p.nodes(pip_c, "ArrowEvalPython",
                                  "time to run Python workers") / 1000.0,
        "pip.matches": matches,
        "pip.match_ratio": _ratio(matches, cand),
        "pip.task_skew": p.skew(pip_c),
        "tiles.raster_s": compute_s("tiles", p.named("tiles.raster_tiles")),
        "tiles.shuffle_write_bytes": p.total("shuffle_write_bytes", runs("tiles")),
        "tiles.rows_out": sum(s.get("rows", 0) for s in runs("tiles")),
        "checkpoint.commit_s": commit_s,
        "checkpoint.bytes_written": written,
        "checkpoint.bytes_per_row": _ratio(written, rows),
    }


def _knn(p: PassView, spans: list[dict], results: int) -> dict:
    cand = p.nodes(spans, "Join")
    calls = [s for s in spans if not s["name"].endswith(".collect")
             and not s["name"].endswith(".action")]
    return {
        "knn.plan_s": p.dur(calls),
        "knn.execute_s": p.dur(spans) - p.dur(calls),
        "knn.jobs_per_request": p.total("jobs", spans),
        "knn.candidates": cand,
        "knn.candidates_per_result": _ratio(cand, results),
        "knn.shuffle_bytes": p.total("shuffle_write_bytes", spans),
        "knn.task_skew": p.skew(spans),
    }


def _knn_serve(p: PassView, k: int, n_queries: int) -> dict:
    spans = p.named("knn.knn_ring") + p.named("knn.knn_ring.collect")
    return _knn(p, spans, k * n_queries)


def _spatial_join(p: PassView) -> dict:
    def op(name):
        return [s for s in p.all if s.get("op") == name]

    def rows(spans):
        return sum(s.get("rows", 0) for s in spans)

    mm, rect, co, dw, ks = (op(n) for n in (
        "map_match", "rect_overlay", "st_colocate", "dwithin", "knn_self"))
    out = _knn(p, ks, rows(ks))
    out.update({
        "knn.self_join_s": p.dur(ks),
        "overlay.map_match_s": p.dur(mm),
        "overlay.map_match_candidates": p.nodes(mm, "Join"),
        "overlay.map_match_useful_ratio": _ratio(rows(mm), p.nodes(mm, "Join")),
        "overlay.map_match_shuffle_bytes": p.total("shuffle_write_bytes", mm),
        "overlay.map_match_task_skew": p.skew(mm),
        "overlay.rect_overlay_s": p.dur(rect),
        "overlay.rect_overlay_pairs": p.nodes(rect, "Join"),
        "overlay.rect_overlay_task_skew": p.skew(rect),
        "spatial.st_colocate_s": p.dur(co),
        "spatial.st_colocate_pairs": p.nodes(co, "Join"),
        "spatial.st_colocate_task_skew": p.skew(co),
        "spatial.dwithin_s": p.dur(dw),
        "spatial.dwithin_pairs": p.nodes(dw, "Join"),
    })
    return out


def derive(workload: str, spans: list[dict], groups: dict, setup: dict,
           cores: int, k: int = 0, n_queries: int = 0) -> dict:
    """PER_LAYER values: per-pass quantities are medians over timed passes."""
    selft = self_times(spans)
    views = [PassView(s, spans, groups, selft) for s in spans
             if s["name"] == "run.pass" and not s.get("warm")]
    per_pass = []
    for p in views:
        m = {
            "spark.jobs_per_pass": p.total("jobs"),
            "spark.shuffle_write_bytes": p.total("shuffle_write_bytes"),
            "spark.spill_bytes": p.total("spill_bytes"),
            "spark.gc_s": p.total("gc_s"),
            "spark.core_busy_ratio": _ratio(p.total("run_s"), p.wall * cores),
        }
        if workload == "pip_tile":
            m.update(_pip_tile(p))
        elif workload == "knn_serve":
            m.update(_knn_serve(p, k, n_queries))
        else:
            m.update(_spatial_join(p))
        per_pass.append(m)
    out = {name: 0 for name, _ in PER_LAYER}
    out.update(setup)
    for name in per_pass[0] if per_pass else ():
        out[name] = _median(m[name] for m in per_pass)
    out["trace.span_coverage"] = min(
        (_ratio(p.dur(p.children), p.wall) for p in views), default=0.0)
    return out
