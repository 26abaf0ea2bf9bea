"""Pure-numpy planar geometry: point-in-polygon, bbox predicates, WKB.

Replaces the Shapely/GEOS layer the reference leans on
(/root/reference/georeader/rasterize.py:148, readers/ee_query.py:133-140)
— none of those libraries exist in this environment, so the engine ships
its own vectorized kernels. These run inside Arrow-batched pandas UDFs
(the "STRtree refine" stage of the filter-and-refine PIP join,
SURVEY.md §2.3) and in the single-process oracle.

Geometry model: a polygon is a list of rings; each ring an ``(N, 2)``
float64 array of (x, y), first ring exterior, rest holes. MultiPolygon
is a list of polygons. Point-in-polygon uses the even-odd rule (so holes
fall out naturally when all rings are tested together).

Boundary convention: a point exactly on an edge may land either side —
the synthetic fixtures avoid boundary-coincident points, and the DuckDB
oracle uses the same strict/non-strict comparisons (documented per
query) so both engines agree.
"""

from __future__ import annotations

import struct
from typing import List, Sequence, Tuple

import numpy as np

Ring = np.ndarray  # (N, 2) float64, closed or open (we close logically)
PolygonT = List[Ring]


# ---------------------------------------------------------------------------
# Predicates
# ---------------------------------------------------------------------------

def points_in_ring(xs: np.ndarray, ys: np.ndarray, ring: Ring) -> np.ndarray:
    """Even-odd (crossing-number) test of many points against one ring.

    Vectorized over points: for each edge, toggle containment for points
    whose y lies in the half-open edge span and which sit left of the
    edge/scanline intersection. O(points * vertices) numpy ops.
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    rx = np.asarray(ring[:, 0], dtype=np.float64)
    ry = np.asarray(ring[:, 1], dtype=np.float64)
    if rx[0] != rx[-1] or ry[0] != ry[-1]:
        rx = np.append(rx, rx[0])
        ry = np.append(ry, ry[0])
    inside = np.zeros(xs.shape, dtype=bool)
    x1, y1 = rx[:-1], ry[:-1]
    x2, y2 = rx[1:], ry[1:]
    for i in range(x1.shape[0]):
        a_x, a_y, b_x, b_y = x1[i], y1[i], x2[i], y2[i]
        if a_y == b_y:
            continue
        cond = (ys >= min(a_y, b_y)) & (ys < max(a_y, b_y))
        if not cond.any():
            continue
        x_int = a_x + (ys - a_y) * (b_x - a_x) / (b_y - a_y)
        inside ^= cond & (xs < x_int)
    return inside


def points_in_polygon(xs: np.ndarray, ys: np.ndarray, polygon: PolygonT) -> np.ndarray:
    """Even-odd over all rings: exterior minus holes."""
    inside = np.zeros(np.asarray(xs).shape, dtype=bool)
    for ring in polygon:
        inside ^= points_in_ring(xs, ys, ring)
    return inside


def ring_bbox(ring: Ring) -> Tuple[float, float, float, float]:
    return (
        float(ring[:, 0].min()),
        float(ring[:, 1].min()),
        float(ring[:, 0].max()),
        float(ring[:, 1].max()),
    )


def polygon_bbox(polygon: PolygonT) -> Tuple[float, float, float, float]:
    return ring_bbox(polygon[0])


def bbox_intersects(a: Sequence[float], b: Sequence[float]) -> bool:
    return a[0] <= b[2] and b[0] <= a[2] and a[1] <= b[3] and b[1] <= a[3]


def ring_area(ring: Ring) -> float:
    """Signed shoelace area (positive for counter-clockwise)."""
    x = ring[:, 0]
    y = ring[:, 1]
    if x[0] != x[-1] or y[0] != y[-1]:
        x = np.append(x, x[0])
        y = np.append(y, y[0])
    return float(0.5 * np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def polygon_area(polygon: PolygonT) -> float:
    """Absolute area: |exterior| - sum(|holes|)."""
    area = abs(ring_area(polygon[0]))
    for hole in polygon[1:]:
        area -= abs(ring_area(hole))
    return area


def _segments_intersect(p1, p2, p3, p4) -> bool:
    def orient(a, b, c):
        v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
        return 0 if v == 0 else (1 if v > 0 else -1)

    o1, o2 = orient(p1, p2, p3), orient(p1, p2, p4)
    o3, o4 = orient(p3, p4, p1), orient(p3, p4, p2)
    if o1 != o2 and o3 != o4:
        return True
    return False


def polygons_intersect(pa: PolygonT, pb: PolygonT) -> bool:
    """Exact polygon-intersects predicate (bbox prefilter + vertex
    containment + edge crossing). Mirrors the role of the reference's
    ``footprint.intersects(polygon)`` pruning (read.py:1593-1596)."""
    if not bbox_intersects(polygon_bbox(pa), polygon_bbox(pb)):
        return False
    ra, rb = pa[0], pb[0]
    if points_in_polygon(rb[:1, 0], rb[:1, 1], pa)[0]:
        return True
    if points_in_polygon(ra[:1, 0], ra[:1, 1], pb)[0]:
        return True
    ca = _closed(ra)
    cb = _closed(rb)
    for i in range(len(ca) - 1):
        for j in range(len(cb) - 1):
            if _segments_intersect(ca[i], ca[i + 1], cb[j], cb[j + 1]):
                return True
    return False


def _closed(ring: Ring) -> np.ndarray:
    if ring[0, 0] != ring[-1, 0] or ring[0, 1] != ring[-1, 1]:
        return np.vstack([ring, ring[:1]])
    return ring


def box_ring(xmin: float, ymin: float, xmax: float, ymax: float) -> Ring:
    """Closed CCW rectangle ring (shapely.geometry.box analog)."""
    return np.array(
        [
            [xmin, ymin],
            [xmax, ymin],
            [xmax, ymax],
            [xmin, ymax],
            [xmin, ymin],
        ],
        dtype=np.float64,
    )


# ---------------------------------------------------------------------------
# Grid index — STRtree stand-in for broadcastable polygon sets
# ---------------------------------------------------------------------------

class BBoxIndex:
    """Tiny uniform-grid bbox index over a small polygon set.

    Plays the role of Shapely's STRtree in the PIP refine stage: the
    polygon set is broadcast to executors (it is small by design —
    FIXTURES.md §2), the per-batch candidate lookup is O(1) per point.
    """

    def __init__(self, polygons: List[PolygonT], nx: int = 64, ny: int = 64):
        self.polygons = polygons
        self.bboxes = [polygon_bbox(p) for p in polygons]
        if polygons:
            self.xmin = min(b[0] for b in self.bboxes)
            self.ymin = min(b[1] for b in self.bboxes)
            self.xmax = max(b[2] for b in self.bboxes)
            self.ymax = max(b[3] for b in self.bboxes)
        else:
            self.xmin = self.ymin = 0.0
            self.xmax = self.ymax = 1.0
        self.nx, self.ny = nx, ny
        self.cells: dict[tuple[int, int], list[int]] = {}
        for idx, b in enumerate(self.bboxes):
            for cx in range(self._cx(b[0]), self._cx(b[2]) + 1):
                for cy in range(self._cy(b[1]), self._cy(b[3]) + 1):
                    self.cells.setdefault((cx, cy), []).append(idx)

    def _cx(self, x: float) -> int:
        span = self.xmax - self.xmin or 1.0
        return min(max(int((x - self.xmin) / span * self.nx), 0), self.nx - 1)

    def _cy(self, y: float) -> int:
        span = self.ymax - self.ymin or 1.0
        return min(max(int((y - self.ymin) / span * self.ny), 0), self.ny - 1)

    def query_points(self, xs: np.ndarray, ys: np.ndarray) -> List[List[int]]:
        """Exact containing-polygon ids per point (candidates via grid,
        refined by even-odd PIP)."""
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        # group points by grid cell, then batch-PIP per candidate polygon
        out: List[List[int]] = [[] for _ in range(len(xs))]
        cand_points: dict[int, list[int]] = {}
        for i in range(len(xs)):
            key = (self._cx(xs[i]), self._cy(ys[i]))
            for pidx in self.cells.get(key, ()):  # candidates
                b = self.bboxes[pidx]
                if b[0] <= xs[i] <= b[2] and b[1] <= ys[i] <= b[3]:
                    cand_points.setdefault(pidx, []).append(i)
        for pidx, pts in cand_points.items():
            sel = np.array(pts, dtype=np.int64)
            mask = points_in_polygon(xs[sel], ys[sel], self.polygons[pidx])
            for j, ok in zip(sel[mask], mask[mask]):
                out[int(j)].append(pidx)
        return out


# ---------------------------------------------------------------------------
# WKB (well-known binary) — standard OGC format, pure struct packing
# ---------------------------------------------------------------------------

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


def wkb_point(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, _WKB_POINT, x, y)


def wkb_polygon(polygon: PolygonT) -> bytes:
    parts = [struct.pack("<BII", 1, _WKB_POLYGON, len(polygon))]
    for ring in polygon:
        ring = _closed(np.asarray(ring, dtype=np.float64))
        parts.append(struct.pack("<I", len(ring)))
        parts.append(ring.astype("<f8").tobytes())
    return b"".join(parts)


def wkb_multipolygon(polygons: List[PolygonT]) -> bytes:
    parts = [struct.pack("<BII", 1, _WKB_MULTIPOLYGON, len(polygons))]
    for p in polygons:
        parts.append(wkb_polygon(p))
    return b"".join(parts)


def parse_wkb(buf: bytes):
    """Parse point/polygon/multipolygon WKB -> ("point", (x, y)) |
    ("polygon", PolygonT) | ("multipolygon", List[PolygonT])."""
    geom_type = struct.unpack_from("<I", buf, 1)[0]
    if geom_type == _WKB_POINT:
        x, y = struct.unpack_from("<dd", buf, 5)
        return "point", (x, y)
    if geom_type == _WKB_POLYGON:
        poly, _ = _parse_polygon_body(buf, 5)
        return "polygon", poly
    if geom_type == _WKB_MULTIPOLYGON:
        n = struct.unpack_from("<I", buf, 5)[0]
        off = 9
        polys = []
        for _ in range(n):
            gt = struct.unpack_from("<I", buf, off + 1)[0]
            if gt != _WKB_POLYGON:
                raise ValueError(f"multipolygon member type {gt}")
            poly, off = _parse_polygon_body(buf, off + 5)
            polys.append(poly)
        return "multipolygon", polys
    raise ValueError(f"unsupported WKB geometry type {geom_type}")


def _parse_polygon_body(buf: bytes, off: int):
    n_rings = struct.unpack_from("<I", buf, off)[0]
    off += 4
    rings: PolygonT = []
    for _ in range(n_rings):
        n_pts = struct.unpack_from("<I", buf, off)[0]
        off += 4
        arr = np.frombuffer(buf, dtype="<f8", count=n_pts * 2, offset=off).reshape(
            n_pts, 2
        ).copy()
        off += n_pts * 16
        rings.append(arr)
    return rings, off


def transform_polygon_crs(rings, src_crs: str, dst_crs: str):
    """polygon_to_crs for arbitrary registered CRS (reference
    window_utils.py:1043-1122 via transform_geom): apply the proj router
    to every ring's vertices. ``rings``: list of (n,2) arrays."""
    from . import proj as kproj

    out = []
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        x, y = kproj.transform_points(ring[:, 0], ring[:, 1], src_crs, dst_crs)
        out.append(np.column_stack([x, y]))
    return out
