"""Raster -> vector: distributed connected components + polygonization
(SURVEY.md §2.11, the reference's ``vectorize.get_polygons``,
/root/reference/georeader/vectorize.py:151-268 — global-mask there;
the distributed cross-tile merge is the hard part called out at
SURVEY.md §7.3 #2).

Pipeline:
1. per-tile labeling — grouped-map Arrow UDF runs a *vectorized*
   run-length-encoding CCL inside each tile (4-connectivity): rows are
   RLE-compressed (numpy diff/flatnonzero — no per-pixel Python), the
   union-find runs over runs (O(runs), typically 20-50x fewer than
   pixels). Local labels get a globally unique prefix (tile id).
2. boundary exchange — each tile emits only its edge strips
   (label, row, col): O(perimeter) rows, tiny next to O(area).
3. distributed merge — cross-tile adjacency pairs come from an
   equi-join of the boundary strips on shifted (row, col) keys, then an
   iterative min-label propagation with pointer jumping (converges in
   O(log D) rounds) computes connected components of the *label graph*.
   No driver-side collect: at 10^12 pixels the boundary strips are
   ~10^8 rows — a DataFrame, not a Python dict.
4. relabel + component stats (pixel count, bbox) via broadcast of the
   label->component mapping (|mapping| = #boundary labels, small);
   min-area filtering mirrors the reference's ``min_area=25.5`` default
   (vectorize.py:258-266). Component ids are canonical — the minimum
   linear pixel index (row*width+col) of the component — so results are
   independent of tile size and comparable against any oracle.

Polygonization: bbox rings by default; ``boundary_rings`` adds the
reference's exact exterior-boundary tracing (vectorize.py:258-266
order: trace -> min-area -> simplify) as a per-component gather.
"""

from __future__ import annotations

from typing import List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rle_rows(mask: np.ndarray) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Run-length encode each row of a bool mask (vectorized).
    Returns (row, col_start, col_end_exclusive) arrays, runs sorted by
    (row, col_start)."""
    h, w = mask.shape
    padded = np.zeros((h, w + 1), dtype=bool)
    padded[:, :w] = mask
    flat = padded.ravel()
    diff = np.diff(flat.astype(np.int8))
    starts = np.flatnonzero(diff == 1) + 1
    ends = np.flatnonzero(diff == -1) + 1  # exclusive; sentinel col closes every run
    if flat[0]:
        starts = np.concatenate(([0], starts))
    rows = starts // (w + 1)
    cs = starts - rows * (w + 1)
    ce = ends - rows * (w + 1)
    return rows, cs, ce


def _label_tile(mask: np.ndarray) -> np.ndarray:
    """4-connectivity CCL via RLE runs + union-find over runs.
    Vectorized RLE and paint; the only Python loop is over *runs*
    (not pixels). Returns int64 labels (0 = background, labels >= 1)."""
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=np.int64)
    rows, cs, ce = _rle_rows(mask)
    n_runs = len(rows)
    if n_runs == 0:
        return labels

    parent = np.arange(n_runs, dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    # row boundaries in the run list (runs are sorted by (row, cs))
    row_start = np.searchsorted(rows, np.arange(h + 1))
    for r in range(1, h):
        a0, a1 = row_start[r - 1], row_start[r]      # runs in row r-1
        b0, b1 = row_start[r], row_start[r + 1]      # runs in row r
        if a0 == a1 or b0 == b1:
            continue
        # run b overlaps runs a in [lo, hi): first a with ce_a > cs_b,
        # last a with cs_a < ce_b — both via searchsorted on sorted cols
        lo = a0 + np.searchsorted(ce[a0:a1], cs[b0:b1], side="right")
        hi = a0 + np.searchsorted(cs[a0:a1], ce[b0:b1], side="left")
        for bi in range(b1 - b0):
            b = b0 + bi
            for a in range(lo[bi], hi[bi]):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)

    roots = np.array([find(k) for k in range(n_runs)], dtype=np.int64)
    # paint runs back (vectorized): label = root run index + 1
    lengths = ce - cs
    total = int(lengths.sum())
    offs = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lengths) - lengths, lengths
    )
    px_rows = np.repeat(rows, lengths)
    px_cols = np.repeat(cs, lengths) + offs
    labels[px_rows, px_cols] = np.repeat(roots + 1, lengths)
    return labels


def _boundary_pairs(edges: DataFrame) -> DataFrame:
    """Cross-tile label adjacency from boundary strips: equi-join on
    shifted (row, col) keys (down + right neighbors), symmetric."""
    a = edges.select(
        F.col("label").alias("la"), F.col("row").alias("ra"), F.col("col").alias("ca")
    )
    b = edges.select(
        F.col("label").alias("lb"), F.col("row").alias("rb"), F.col("col").alias("cb")
    )
    down = a.join(b, (F.col("ra") + 1 == F.col("rb")) & (F.col("ca") == F.col("cb")))
    right = a.join(b, (F.col("ra") == F.col("rb")) & (F.col("ca") + 1 == F.col("cb")))
    pairs = (
        down.select("la", "lb")
        .union(right.select("la", "lb"))
        .where(F.col("la") != F.col("lb"))
    )
    return (
        pairs.union(pairs.select(F.col("lb").alias("la"), F.col("la").alias("lb")))
        .distinct()
    )


def _label_graph_components(pairs: DataFrame) -> DataFrame:
    """Connected components of the (small) boundary-label graph by
    iterative min-label propagation + pointer jumping — O(log D) rounds,
    fully distributed (no pixel rows ever reach the driver).
    Input: symmetric (la, lb) pairs. Output: (label, component)."""
    spark = pairs.sparkSession
    pairs = pairs.localCheckpoint(eager=True)
    n_pairs = pairs.count()
    # scope shuffle width to the label graph: it is O(boundary labels),
    # orders of magnitude below the pixel count the session is sized
    # for — 256-partition exchanges per round are pure scheduling waste
    parts = int(max(8, min(256, n_pairs // 100_000 + 8)))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        return _label_graph_components_loop(pairs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def _label_graph_components_loop(pairs: DataFrame) -> DataFrame:
    comp = (
        pairs.select(F.col("la").alias("label"))
        .distinct()
        .withColumn("comp", F.col("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(64):
        # neighbor-min: smallest comp among my neighbors
        nmin = (
            pairs.join(comp, pairs["lb"] == comp["label"])
            .groupBy("la")
            .agg(F.min("comp").alias("ncomp"))
        )
        stepped = (
            comp.join(nmin, comp["label"] == nmin["la"], "left")
            .select(
                comp["label"].alias("label"),
                F.least(comp["comp"], F.coalesce("ncomp", comp["comp"])).alias("comp"),
            )
        )
        # pointer jump: comp = comp(comp)
        c2 = stepped.select(
            F.col("label").alias("label2"), F.col("comp").alias("comp2")
        )
        jumped = (
            stepped.join(c2, stepped["comp"] == c2["label2"], "left")
            .select(
                "label", F.coalesce("comp2", "comp").alias("comp")
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            jumped.alias("n")
            .join(comp.alias("o"), "label")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        comp = jumped
        if changed == 0:
            break
    return comp


def merged_pixel_labels(
    raster: DataFrame,
    height: int,
    width: int,
    tile: int = 128,
    predicate_col: str = "value",
    fill: float = 0.0,
) -> DataFrame:
    """The shared CCL core: per-tile labeling + distributed boundary
    merge. Returns ``(comp_label, row, col)`` — one row per foreground
    pixel with a globally consistent (but tile-derived) component label.
    Callers canonicalize ids in their own aggregation."""
    keyed = raster.where(F.col(predicate_col) != F.lit(fill)).withColumns(
        {
            "tile_row": F.floor(F.col("row") / F.lit(tile)).cast("long"),
            "tile_col": F.floor(F.col("col") / F.lit(tile)).cast("long"),
        }
    )

    n_tcols = (width + tile - 1) // tile
    out_schema = "label long, row long, col long, on_edge boolean"

    def label_group(key, pdf: pd.DataFrame) -> pd.DataFrame:
        trow, tcol = int(key[0]), int(key[1])
        h = min(tile, height - trow * tile)
        w = min(tile, width - tcol * tile)
        mask = np.zeros((h, w), dtype=bool)
        rr = pdf["row"].to_numpy() - trow * tile
        cc = pdf["col"].to_numpy() - tcol * tile
        mask[rr, cc] = True
        labels = _label_tile(mask)
        # globally unique label: tile_index * (tile*tile + 1) + local label
        tidx = trow * n_tcols + tcol
        base = np.int64(tidx) * (tile * tile + 1)
        ys, xs = np.nonzero(labels)
        glob = base + labels[ys, xs]
        abs_r = ys + trow * tile
        abs_c = xs + tcol * tile
        on_edge = (ys == 0) | (ys == h - 1) | (xs == 0) | (xs == w - 1)
        return pd.DataFrame(
            {"label": glob, "row": abs_r, "col": abs_c, "on_edge": on_edge}
        )

    labeled = keyed.groupBy("tile_row", "tile_col").applyInPandas(
        label_group, out_schema
    )
    labeled = labeled.persist()
    labeled.count()  # materialize once; edges + final agg reuse it

    edges = labeled.where(F.col("on_edge")).select("label", "row", "col")
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()
    # the whole merge works on boundary strips: O(perimeter) rows,
    # orders below the session's pixel-scale shuffle width — size its
    # exchanges accordingly (restored after)
    spark = raster.sparkSession
    parts = int(max(8, min(256, n_edges // 500_000 + 8)))
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        pairs = _boundary_pairs(edges)
        mapping = _label_graph_components(pairs)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)

    merged = labeled.join(F.broadcast(mapping), "label", "left").select(
        F.coalesce("comp", "label").alias("comp_label"), "row", "col"
    )
    merged = merged.localCheckpoint(eager=True)
    labeled.unpersist()
    return merged


def connected_components(
    raster: DataFrame,
    height: int,
    width: int,
    tile: int = 128,
    min_area: float = 0.0,
    predicate_col: str = "value",
    fill: float = 0.0,
) -> DataFrame:
    """Label connected regions of ``value != fill`` across the whole
    grid; returns per-component stats
    ``(component, n_pixels, min_row, min_col, max_row, max_col)`` where
    ``component`` is the canonical id: min(row*width+col) over the
    component's pixels (tile-size independent, oracle-comparable)."""
    merged = merged_pixel_labels(raster, height, width, tile, predicate_col, fill)
    stats = (
        merged.groupBy("comp_label")
        .agg(
            F.count("*").alias("n_pixels"),
            F.min("row").alias("min_row"),
            F.min("col").alias("min_col"),
            F.max("row").alias("max_row"),
            F.max("col").alias("max_col"),
            F.min(F.col("row") * F.lit(width) + F.col("col")).alias("component"),
        )
        .select(
            "component", "n_pixels", "min_row", "min_col", "max_row", "max_col"
        )
    )
    if min_area > 0:
        stats = stats.where(F.col("n_pixels") >= F.lit(min_area))
    return stats


def polygonize(
    raster: DataFrame,
    height: int,
    width: int,
    transform=None,
    tile: int = 128,
    min_area: float = 25.5,
    tolerance: float = 1.0,
    predicate_col: str = "value",
    fill: float = 0.0,
) -> DataFrame:
    """``vectorize.get_polygons`` end-to-end (reference
    vectorize.py:151-268): distributed CCL, then per-component exterior
    boundary tracing + hole rings, min-area filter, Douglas-Peucker
    ``simplify(tolerance)`` and affine transform — in the reference's
    exact order (trace -> min_area -> simplify -> transform,
    vectorize.py:258-266; polygon_buffer=0).

    The trace is a grouped gather per component: components are small
    after min-area filtering (the reference's own assumption — it holds
    whole masks in memory), so the per-group UDF sees only one
    component's pixels. Output is long-form, SQL-comparable:
    ``(component, ring, is_hole, vtx, x, y)`` with ``component`` the
    canonical min-pixel-index id, rings ordered exterior-first, vertices
    in trace order starting at the ring's lexicographic minimum.
    """
    from ..kernels.tracing import component_rings, shoelace_area, simplify_ring

    merged = merged_pixel_labels(raster, height, width, tile, predicate_col, fill)
    out_schema = (
        "component long, ring int, is_hole boolean, vtx int, x double, y double"
    )

    def trace(key, pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf["row"].to_numpy()
        cols = pdf["col"].to_numpy()
        if len(rows) < min_area:  # polygon area == pixel count (units^2)
            return pd.DataFrame(
                columns=["component", "ring", "is_hole", "vtx", "x", "y"]
            ).astype(
                {"component": "int64", "ring": "int32", "is_hole": "bool",
                 "vtx": "int32", "x": "float64", "y": "float64"}
            )
        comp_id = int((rows * width + cols).min())
        rings = component_rings(zip(rows.tolist(), cols.tolist()))
        out = {"component": [], "ring": [], "is_hole": [], "vtx": [],
               "x": [], "y": []}
        for ri, ring in enumerate(rings):
            hole = shoelace_area(ring) < 0
            simp = simplify_ring(ring, tolerance)
            xs, ys = simp[:, 0], simp[:, 1]
            if transform is not None:
                gx = transform.c + xs * transform.a + ys * transform.b
                gy = transform.f + xs * transform.d + ys * transform.e
                xs, ys = gx, gy
            n = len(simp)
            out["component"].extend([comp_id] * n)
            out["ring"].extend([ri] * n)
            out["is_hole"].extend([hole] * n)
            out["vtx"].extend(range(n))
            out["x"].extend(xs.tolist())
            out["y"].extend(ys.tolist())
        return pd.DataFrame(out)

    return merged.groupBy("comp_label").applyInPandas(trace, out_schema)
