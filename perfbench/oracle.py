"""Output checks written against numpy and DuckDB, never the operator
under test.

Every check takes the generated inputs (as numpy arrays) and the engine's
output (as a pandas frame or a parquet directory) and returns a list of
mismatch descriptions; an empty list means the output is correct.  Checks
that brute-force pairs restrict themselves to a fixed bounding box (which
holds one of the corpus's hot spots) and a deterministic sample of it.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

# (qlat_lo, qlat_hi, qlon_lo, qlon_hi), half-open; holds hot centre (21000, 43000)
BBOX = (20000, 26000, 38000, 46000)
SAMPLE_CAP = 200  # brute-forced probes per check
SNAP_SCALE = 1_000_000  # snap_to_segments reports floor(d^2 * 10^6)


def in_bbox(lat: np.ndarray, lon: np.ndarray, box=BBOX) -> np.ndarray:
    return (lat >= box[0]) & (lat < box[1]) & (lon >= box[2]) & (lon < box[3])


def sample(idx: np.ndarray, cap: int = SAMPLE_CAP) -> np.ndarray:
    """Deterministic stride sample of an index array."""
    if len(idx) <= cap:
        return idx
    return idx[np.linspace(0, len(idx) - 1, cap).astype(np.int64)]


class Points:
    """Corpus points sorted by qlat, for exact window scans."""

    def __init__(self, doc, span, lat, lon):
        o = np.lexsort((lon, lat))
        self.doc, self.span = np.asarray(doc)[o], np.asarray(span)[o]
        self.lat, self.lon = np.asarray(lat)[o], np.asarray(lon)[o]

    def __len__(self) -> int:
        return len(self.lat)

    def near(self, y: int, r: int) -> slice:
        return slice(int(np.searchsorted(self.lat, y - r, "left")),
                     int(np.searchsorted(self.lat, y + r, "right")))


def _parquet(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '**', '*.parquet')}')"


def read_rows(path: str):
    """A parquet output directory as a pandas frame, read by DuckDB."""
    con = duckdb.connect()
    try:
        return con.execute(f"SELECT * FROM {_parquet(path)}").df()
    finally:
        con.close()


def _diff(label: str, want, got) -> list[str]:
    if want == got:
        return []
    return [f"{label}: expected {_short(want)}, got {_short(got)}"]


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 200 else s[:200] + "..."


# ---------------------------------------------------------------- corpus --


def morton(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """32-bit Morton id, lat bits odd, lon bits even, one bit at a time."""
    out = np.zeros(len(lat), dtype=np.int64)
    for b in range(16):
        out |= ((lon >> b) & 1) << (2 * b)
        out |= ((lat >> b) & 1) << (2 * b + 1)
    return out


def check_corpus(pdf, expected_rows: int) -> list[str]:
    errs = _diff("corpus rows", expected_rows, len(pdf))
    lat, lon = pdf["qlat"].to_numpy(np.int64), pdf["qlon"].to_numpy(np.int64)
    if ((lat < 0) | (lat > 65535) | (lon < 0) | (lon > 65535)).any():
        errs.append("corpus: coordinates outside the 16-bit grid")
    bad = int((morton(lat, lon) != pdf["cell"].to_numpy(np.int64)).sum())
    if bad:
        errs.append(f"corpus: {bad} cell ids differ from the Morton interleave")
    if pdf.duplicated(["doc_id", "span_pos"]).any():
        errs.append("corpus: duplicate (doc_id, span_pos) keys")
    return errs


# ---------------------------------------------------------------- pip_tile --


def ray_cast_count(ring, pts: Points) -> int:
    """Points strictly inside `ring` by the even-odd rule: a point counts
    a crossing for each edge that straddles its row (y1 > py) != (y2 > py)
    and whose crossing lies to the point's right."""
    ys = np.array([p[0] for p in ring], dtype=np.int64)
    xs = np.array([p[1] for p in ring], dtype=np.int64)
    lo, hi = int(ys.min()), int(ys.max())
    win = slice(int(np.searchsorted(pts.lat, lo, "left")),
                int(np.searchsorted(pts.lat, hi, "right")))
    py, px = pts.lat[win], pts.lon[win]
    keep = (px >= xs.min()) & (px <= xs.max())
    py, px = py[keep], px[keep]
    odd = np.zeros(len(py), dtype=bool)
    for y1, x1, y2, x2 in zip(ys[:-1], xs[:-1], ys[1:], xs[1:]):
        straddle = (y1 > py) != (y2 > py)
        if not straddle.any() or y1 == y2:
            continue
        # px < x1 + (py - y1) * (x2 - x1) / (y2 - y1), cleared of the
        # division with the sign of (y2 - y1)
        lhs = (px - x1) * (y2 - y1)
        rhs = (py - y1) * (x2 - x1)
        right = lhs < rhs if y2 > y1 else lhs > rhs
        odd ^= straddle & right
    return int(odd.sum())


def pip_expected(rings, pts: Points, n_sample: int = 24) -> dict[str, int]:
    """Match counts for polygon 0 (over a hot cell) and a stride sample."""
    picks = sorted({0, *np.linspace(1, len(rings) - 1, n_sample).astype(int)})
    return {rings[i][0]: ray_cast_count(rings[i][1], pts) for i in picks}


def check_pip(path: str, expected: dict[str, int]) -> list[str]:
    ids = ", ".join(f"'{p}'" for p in expected)
    con = duckdb.connect()
    try:
        got = dict(con.execute(
            f"SELECT polygon_id, count(*) FROM {_parquet(path)} "
            f"WHERE polygon_id IN ({ids}) GROUP BY 1").fetchall())
        dups = con.execute(
            f"SELECT count(*) - count(DISTINCT (doc_id, span_pos, polygon_id)) "
            f"FROM {_parquet(path)}").fetchone()[0]
    finally:
        con.close()
    got = {p: got.get(p, 0) for p in expected}
    return _diff("pip matches per sampled polygon", expected, got) + (
        [f"pip: {dups} duplicate match rows"] if dups else [])


def tiles_expected(pts: Points, zooms) -> dict[int, dict[tuple, int]]:
    out = {}
    for z in zooms:
        x = pts.lon >> (16 - z)
        y = (65535 - pts.lat) >> (16 - z)
        keys, counts = np.unique(x * 65536 + y, return_counts=True)
        out[z] = {(int(k // 65536), int(k % 65536)): int(c)
                  for k, c in zip(keys, counts)}
    return out


def check_tiles(path: str, expected: dict, n_points: int) -> list[str]:
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT z, x, y, n_points, "
            f"list_sum(list_transform(pixels, p -> p.n)) FROM {_parquet(path)}"
        ).fetchall()
    finally:
        con.close()
    errs = []
    got: dict[int, dict] = {z: {} for z in expected}
    for z, x, y, n, pix in rows:
        got.setdefault(int(z), {})[(int(x), int(y))] = int(n)
        if n != pix:
            errs.append(f"tile {z}/{x}/{y}: n_points {n} != pixel sum {pix}")
            break
    for z in expected:
        total = sum(got[z].values())
        if total != n_points:
            errs.append(f"tiles z={z}: counts sum to {total}, corpus has {n_points}")
        elif got[z] != expected[z]:
            bad = sum(1 for k in expected[z] if got[z].get(k) != expected[z][k])
            errs.append(f"tiles z={z}: {bad} tiles differ from numpy counts")
    return errs


def check_chunks(path: str, doc_ids: set[int]) -> list[str]:
    con = duckdb.connect()
    try:
        n_docs, n_err, n_bad = con.execute(
            f"WITH c AS (SELECT * FROM {_parquet(path)}), "
            f"d AS (SELECT doc_id, count(*) AS n, min(chunk_index) AS lo, "
            f"max(chunk_index) AS hi, max(total_chunks) AS t FROM c GROUP BY 1) "
            f"SELECT (SELECT count(*) FROM d), "
            f"(SELECT count(*) FROM c WHERE error IS NOT NULL), "
            f"(SELECT count(*) FROM d WHERE lo <> 0 OR hi <> t - 1 OR n <> t)"
        ).fetchone()
    finally:
        con.close()
    errs = _diff("chunked documents", len(doc_ids), n_docs)
    if n_err:
        errs.append(f"chunks: {n_err} error rows")
    if n_bad:
        errs.append(f"chunks: {n_bad} documents with non-contiguous chunk_index")
    return errs


# --------------------------------------------------------------------- knn --


def knn_brute(pts: Points, qlat: int, qlon: int, k: int,
              exclude=None) -> list[tuple[int, int, int]]:
    """k nearest (d2, doc_id, span_pos), ties by (doc_id, span_pos)."""
    d2 = (pts.lat - qlat) ** 2 + (pts.lon - qlon) ** 2
    if exclude is not None:
        d2 = np.where((pts.doc == exclude[0]) & (pts.span == exclude[1]),
                      np.iinfo(np.int64).max, d2)
    kth = np.partition(d2, k - 1)[k - 1]
    idx = np.nonzero(d2 <= kth)[0]
    o = np.lexsort((pts.span[idx], pts.doc[idx], d2[idx]))[:k]
    idx = idx[o]
    return [(int(a), int(b), int(c))
            for a, b, c in zip(d2[idx], pts.doc[idx], pts.span[idx])]


def _knn_rows(pdf, qid) -> list[tuple[int, int, int]]:
    sub = pdf[pdf["query_id"] == qid].sort_values("rank")
    return [(int(a), int(b), int(c)) for a, b, c in
            zip(sub["d2"], sub["doc_id"], sub["span_pos"])]


def check_knn(pdf, queries: list[tuple], pts: Points, k: int) -> list[str]:
    """queries: [(query_id, qlat, qlon)] — every one is checked."""
    errs = []
    if len(pdf) != k * len(queries):
        errs.append(f"knn: {len(pdf)} rows for {len(queries)} queries x k={k}")
    for qid, qlat, qlon in queries:
        want = knn_brute(pts, qlat, qlon, k)
        got = _knn_rows(pdf, qid)
        if want != got:
            errs += _diff(f"knn query {qid}", want, got)
            break
    return errs


def check_knn_self(pdf, pts: Points, k: int, every: int) -> list[str]:
    """Self-join probes (query_id 'doc:span', span_pos % every == 0)
    inside the bbox, against brute force without the probe itself."""
    probe = np.nonzero(in_bbox(pts.lat, pts.lon) & (pts.span % every == 0))[0]
    errs = []
    for i in sample(probe):
        qid = f"{pts.doc[i]}:{pts.span[i]}"
        want = knn_brute(pts, pts.lat[i], pts.lon[i], k,
                         exclude=(pts.doc[i], pts.span[i]))
        got = _knn_rows(pdf, qid)
        if want != got:
            return _diff(f"knn self-join probe {qid}", want, got)
    return errs


# ---------------------------------------------------------- spatial_join --


def check_dwithin(pdf, queries, pts: Points, radius: int) -> list[str]:
    """queries: (query_id, qlat, qlon) arrays; the bbox's queries, all pairs."""
    qid, qlat, qlon = queries
    errs = []
    for i in sample(np.nonzero(in_bbox(qlat, qlon))[0]):
        w = pts.near(int(qlat[i]), radius)
        d2 = (pts.lat[w] - qlat[i]) ** 2 + (pts.lon[w] - qlon[i]) ** 2
        m = d2 <= radius * radius
        want = sorted(zip(pts.doc[w][m].tolist(), pts.span[w][m].tolist(),
                          d2[m].tolist()))
        sub = pdf[pdf["query_id"] == qid[i]]
        got = sorted(zip(sub["doc_id"].tolist(), sub["span_pos"].tolist(),
                         sub["d2"].tolist()))
        if want != got:
            return _diff(f"dwithin query {qid[i]}", want, got)
    return errs


def check_st_colocate(pdf, pts: Points, t_s: np.ndarray, radius: int,
                      dt: int) -> list[str]:
    """pts/t_s: the colocation input.  Every pair with a sampled bbox point
    on either side, ids ordered (lesser (doc, span) on the left)."""
    errs = []
    left = {}
    cols = ("doc_id", "span_pos", "b_doc_id", "b_span_pos", "d2", "dt_s")
    for a, b, c, d, e, f in zip(*(pdf[c].tolist() for c in cols)):
        left.setdefault((a, b), set()).add(((a, b), (c, d), e, f))
        left.setdefault((c, d), set()).add(((a, b), (c, d), e, f))
    for i in sample(np.nonzero(in_bbox(pts.lat, pts.lon))[0]):
        me = (int(pts.doc[i]), int(pts.span[i]))
        w = pts.near(int(pts.lat[i]), radius)
        d2 = (pts.lat[w] - pts.lat[i]) ** 2 + (pts.lon[w] - pts.lon[i]) ** 2
        dts = np.abs(t_s[w] - t_s[i])
        want = set()
        for doc, span, dd, tt in zip(pts.doc[w], pts.span[w], d2, dts):
            other = (int(doc), int(span))
            if other != me and dd <= radius * radius and tt <= dt:
                lo, hi = sorted((me, other))
                want.add((lo, hi, int(dd), int(tt)))
        if want != left.get(me, set()):
            return _diff(f"st_colocate pairs of {me}", sorted(want),
                         sorted(left.get(me, set())))
    return errs


def snap_key(py, px, y1, x1, y2, x2) -> int:
    """floor(d^2 * 10^6), d = distance from (py, px) to segment, exact."""
    aby, abx = y2 - y1, x2 - x1
    apy, apx = py - y1, px - x1
    l2 = aby * aby + abx * abx
    t = apy * aby + apx * abx
    if l2 == 0 or t <= 0:
        return (apy * apy + apx * apx) * SNAP_SCALE
    if t >= l2:
        return ((py - y2) ** 2 + (px - x2) ** 2) * SNAP_SCALE
    cross = apx * aby - apy * abx
    return cross * cross * SNAP_SCALE // l2


def check_map_match(pdf, pts: Points, segs, radius: int) -> list[str]:
    """segs: (seg_id, y1, x1, y2, x2) int arrays.  Nearest segment within
    radius per sampled bbox point, ties by seg_id."""
    sid, y1, x1, y2, x2 = segs
    ylo, yhi = np.minimum(y1, y2) - radius, np.maximum(y1, y2) + radius
    xlo, xhi = np.minimum(x1, x2) - radius, np.maximum(x1, x2) + radius
    cols = ("doc_id", "span_pos", "seg_id", "dist2_e6")
    got = {(a, b): (c, d) for a, b, c, d in zip(*(pdf[c].tolist() for c in cols))}
    limit = radius * radius * SNAP_SCALE
    for i in sample(np.nonzero(in_bbox(pts.lat, pts.lon))[0]):
        py, px = int(pts.lat[i]), int(pts.lon[i])
        cand = np.nonzero((ylo <= py) & (py <= yhi) & (xlo <= px) & (px <= xhi))[0]
        best = None
        for j in cand:
            key = snap_key(py, px, int(y1[j]), int(x1[j]), int(y2[j]), int(x2[j]))
            if key <= limit and (best is None or (key, sid[j]) < (best[1], best[0])):
                best = (int(sid[j]), key)
        me = (int(pts.doc[i]), int(pts.span[i]))
        have = got.get(me)
        if best != have:
            return _diff(f"map_match point {me}", best, have)
    return []


def check_rect_overlay(pdf, ra, rb) -> list[str]:
    """ra/rb: (doc, pos, y0, x0, y1, x1) arrays.  All intersecting pairs
    of the sampled a-rectangles whose low corner lies in the bbox."""
    ad, ap, ay0, ax0, ay1, ax1 = ra
    bd, bp, by0, bx0, by1, bx1 = rb
    for i in sample(np.nonzero(in_bbox(ay0, ax0))[0]):
        iy0, ix0 = np.maximum(ay0[i], by0), np.maximum(ax0[i], bx0)
        iy1, ix1 = np.minimum(ay1[i], by1), np.minimum(ax1[i], bx1)
        m = (iy0 < iy1) & (ix0 < ix1)
        inter = (iy1 - iy0)[m] * (ix1 - ix0)[m]
        area_a = (ay1[i] - ay0[i]) * (ax1[i] - ax0[i])
        area_b = (by1 - by0)[m] * (bx1 - bx0)[m]
        want = sorted(zip(bd[m].tolist(), bp[m].tolist(), inter.tolist(),
                          (area_a + area_b - inter).tolist()))
        sub = pdf[(pdf["a_doc"] == ad[i]) & (pdf["a_pos"] == ap[i])]
        got = sorted(zip(sub["b_doc"].tolist(), sub["b_pos"].tolist(),
                         sub["inter_area"].tolist(), sub["union_area"].tolist()))
        if want != got:
            return _diff(f"rect_overlay a=({ad[i]}, {ap[i]})", want, got)
    return []
