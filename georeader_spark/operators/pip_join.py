"""Point-in-polygon join — filter-and-refine, Spark-first.

Re-expresses the reference's geometric joins (SURVEY.md §2.3):
``footprint.intersects(polygon)`` pruning (/root/reference/georeader/
read.py:1593-1596) and ``gpd.sjoin`` (readers/ee_query.py:434-446) as:

1. **coarse filter** — polygon cell-cover (GridCell analog of an H3
   cover) built driver-side for the small polygon table, broadcast,
   equi-joined to the points' cell column. Pure JVM hash join against
   a broadcast relation: no shuffle of the big side at any scale.
2. **exact refine** — even-odd PIP in an Arrow-batched pandas UDF over
   only the surviving (point, polygon) candidate pairs; polygon
   geometry is shipped once per executor via a Spark broadcast.

At 100 TB the coarse join prunes all but the cover cells' rows before
any Python runs; the refine UDF sees only candidates. Cover resolution
trades false-positive rate against cover size — pick so that
``len(cover) * n_polygons`` stays broadcastable (it is, by the
FIXTURES.md §2 contract of a small polygon side).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions.geo import cell_encode
from ..kernels import cells as kcells
from ..kernels import geometry as kgeom

PolyTable = Sequence[Tuple[int, List[kgeom.PolygonT]]]  # (poly_id, multipolygon)


def polygon_cover(polygons: PolyTable, r: int) -> List[Tuple[int, int]]:
    """(cell, poly_id) cover rows at resolution r: the bbox cover cells
    whose bounds intersect the polygon exactly (corner/center PIP + edge
    test via polygons_intersect). Refine removes the false positives."""
    out: List[Tuple[int, int]] = []
    for poly_id, mp in polygons:
        seen = set()
        for poly in mp:
            bb = kgeom.polygon_bbox(poly)
            for cell in kcells.cover_bbox(bb[0], bb[1], bb[2], bb[3], r):
                if cell in seen:
                    continue
                cb = kcells.cell_bounds(cell)
                cell_ring = [kgeom.box_ring(cb[0], cb[1], cb[2], cb[3])]
                if not kgeom.polygons_intersect(cell_ring, poly):
                    continue
                seen.add(cell)
                out.append((cell, poly_id))
    return out


def _is_convex(ring: np.ndarray) -> bool:
    r = ring
    if r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]:
        r = r[:-1]
    n = len(r)
    sign = 0
    for i in range(n):
        a, b, c = r[i], r[(i + 1) % n], r[(i + 2) % n]
        cross = (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0])
        if cross != 0:
            s = 1 if cross > 0 else -1
            if sign == 0:
                sign = s
            elif s != sign:
                return False
    return True


def _convex_contains_expr(ring: np.ndarray, lon, lat):
    """Strict-interior half-plane test for a convex ring as a pure
    column expression (JVM codegen — no Python in the refine)."""
    from pyspark.sql import functions as F

    r = ring
    if r[0, 0] == r[-1, 0] and r[0, 1] == r[-1, 1]:
        r = r[:-1]
    n = len(r)
    pos = None
    neg = None
    for i in range(n):
        ax, ay = float(r[i][0]), float(r[i][1])
        bx, by = float(r[(i + 1) % n][0]), float(r[(i + 1) % n][1])
        cross = (F.lit(bx - ax)) * (lat - F.lit(ay)) - (F.lit(by - ay)) * (lon - F.lit(ax))
        p = cross > 0
        q = cross < 0
        pos = p if pos is None else (pos & p)
        neg = q if neg is None else (neg & q)
    return pos | neg


def pip_join(
    points: DataFrame,
    polygons: PolyTable,
    lon_col: str = "lon",
    lat_col: str = "lat",
    r: int = 7,
    refine: str = "auto",
) -> DataFrame:
    """Join points to the polygons containing them.

    Returns ``points`` columns + ``poly_id``; unmatched points drop
    (sjoin inner semantics, ee_query.py:434-446).

    ``refine``: "exprs" runs the exact containment test as JVM half-
    plane expressions (possible when every polygon is a single convex
    ring — boxes/triangles); "udf" uses the Arrow-batched even-odd
    kernel (any geometry); "auto" picks exprs when legal. Both paths
    agree for interior points (the fixtures avoid boundaries).
    """
    spark = points.sparkSession
    cover = polygon_cover(polygons, r)
    cover_df = spark.createDataFrame(cover, "_cover_cell long, poly_id int")

    all_convex = all(
        len(mp) >= 1 and all(len(poly) == 1 and _is_convex(poly[0]) for poly in mp)
        for _pid, mp in polygons
    )
    if refine == "auto":
        refine = "exprs" if all_convex else "udf"
    if refine == "exprs" and not all_convex:
        raise ValueError("refine='exprs' requires single-ring convex polygons")

    if refine == "exprs":
        return _pip_join_exprs(spark, points, polygons, cover, lon_col, lat_col, r)

    # geometry broadcast once per executor for the refine UDF
    sc = spark.sparkContext
    geom_bc = sc.broadcast({int(pid): mp for pid, mp in polygons})

    @F.pandas_udf(BooleanType())
    def pip_refine(lon: pd.Series, lat: pd.Series, poly_id: pd.Series) -> pd.Series:
        geoms: Dict[int, List[kgeom.PolygonT]] = geom_bc.value
        xs = lon.to_numpy(dtype=np.float64)
        ys = lat.to_numpy(dtype=np.float64)
        pid = poly_id.to_numpy()
        out = np.zeros(len(xs), dtype=bool)
        for p in np.unique(pid):
            sel = pid == p
            inside = np.zeros(int(sel.sum()), dtype=bool)
            for poly in geoms[int(p)]:
                inside |= kgeom.points_in_polygon(xs[sel], ys[sel], poly)
            out[sel] = inside
        return pd.Series(out)

    candidates = points.withColumn(
        "_cover_cell", cell_encode(F.col(lon_col), F.col(lat_col), r)
    ).join(F.broadcast(cover_df), "_cover_cell", "inner")

    return candidates.where(
        pip_refine(F.col(lon_col), F.col(lat_col), F.col("poly_id"))
    ).drop("_cover_cell")


def _pip_join_exprs(
    spark,
    points: DataFrame,
    polygons: PolyTable,
    cover: List[Tuple[int, int]],
    lon_col: str,
    lat_col: str,
    r: int,
) -> DataFrame:
    """Exact refine with the half-plane COEFFICIENTS carried as columns
    of the broadcast cover relation, one row per (cell, poly, ring),
    padded to the max ring edge count.

    Why coefficients-as-data instead of literals-in-the-predicate (the
    v1 shape): with literal coefficients the refine is a points-side-
    only deterministic predicate, so Catalyst (a) pushes it below the
    join and through every exchange into the SCAN — duplicating the
    upstream expression tree (html geotag regexes in the flagship) per
    predicate reference — and (b) inlines an O(n_polygons) OR-chain
    into the join's generated method, which blows the 64 KB janino
    limit at ~40 polygons and drops the whole join stage to
    interpreted mode (measured: "Whole-stage codegen disabled",
    round-1's motivation for a localCheckpoint lineage cut). With
    coefficients joined in from the broadcast side the predicate
    references both join sides, so it CANNOT be pushed below the join,
    and its size is O(max_edges) regardless of polygon count — codegen
    always fits, no lineage cut needed, and 10^6 polygons grow only
    the broadcast DATA, never the plan. Disjoint rings of a valid
    multipolygon make per-ring candidate rows safe: a point passes at
    most one ring's test, so no dedup shuffle is needed."""
    edge_rows: List[tuple] = []
    max_edges = 0
    ring_tables: Dict[int, List[np.ndarray]] = {}
    for pid, mp in polygons:
        ring_tables[int(pid)] = [poly[0] for poly in mp]
        for poly in mp:
            ring = poly[0]
            n = len(ring) - (
                1 if (ring[0, 0] == ring[-1, 0] and ring[0, 1] == ring[-1, 1]) else 0
            )
            max_edges = max(max_edges, n)
    cover_by_pid: Dict[int, List[int]] = {}
    for cell, pid in cover:
        cover_by_pid.setdefault(int(pid), []).append(cell)
    for pid, rings in ring_tables.items():
        for ring_idx, ring in enumerate(rings):
            rr = ring
            if rr[0, 0] == rr[-1, 0] and rr[0, 1] == rr[-1, 1]:
                rr = rr[:-1]
            n = len(rr)
            coeffs = []
            for i in range(max_edges):
                if i < n:
                    ax, ay = float(rr[i][0]), float(rr[i][1])
                    bx, by = float(rr[(i + 1) % n][0]), float(rr[(i + 1) % n][1])
                    coeffs += [ax, ay, bx - ax, by - ay, False]
                else:
                    coeffs += [0.0, 0.0, 0.0, 0.0, True]
            for cell in cover_by_pid.get(pid, []):
                edge_rows.append(tuple([cell, pid] + coeffs))
    schema = "_cover_cell long, poly_id int, " + ", ".join(
        f"_e{i}_ax double, _e{i}_ay double, _e{i}_dx double, _e{i}_dy double, "
        f"_e{i}_pad boolean"
        for i in range(max_edges)
    )
    coeff_df = spark.createDataFrame(edge_rows, schema)

    # ONE F.expr over a locally-built SQL string: the per-edge Column
    # composition was ~1400 Py4J round trips (~0.5 s of query-build
    # wall time per pip join); a single parse is one round trip and
    # yields the identical expression tree.
    lon_c, lat_c = F.col(lon_col), F.col(lat_col)

    def _cross(i: int) -> str:
        return (
            f"(_e{i}_dx * ({lat_col} - _e{i}_ay)"
            f" - _e{i}_dy * ({lon_col} - _e{i}_ax))"
        )

    pos_sql = " AND ".join(
        f"(_e{i}_pad OR {_cross(i)} > 0)" for i in range(max_edges)
    )
    neg_sql = " AND ".join(
        f"(_e{i}_pad OR {_cross(i)} < 0)" for i in range(max_edges)
    )
    inside = F.expr(f"({pos_sql}) OR ({neg_sql})")

    drop_cols = ["_cover_cell"] + [
        f"_e{i}_{c}" for i in range(max_edges) for c in ("ax", "ay", "dx", "dy", "pad")
    ]
    return (
        points.withColumn("_cover_cell", cell_encode(lon_c, lat_c, r))
        .join(F.broadcast(coeff_df), "_cover_cell", "inner")
        .where(inside)
        .drop(*drop_cols)
    )


def boxes_to_polytable(
    boxes: Sequence[Tuple[int, float, float, float, float]]
) -> PolyTable:
    """(poly_id, xmin, ymin, xmax, ymax) rows -> PolyTable of boxes."""
    return [
        (pid, [[kgeom.box_ring(x0, y0, x1, y1)]]) for pid, x0, y0, x1, y1 in boxes
    ]
