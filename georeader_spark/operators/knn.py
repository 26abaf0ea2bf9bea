"""kNN lookups (north rule; SURVEY.md §2.3).

The reference has no kNN (nearest-neighbor appears only as scipy
griddata Voronoi assignment, griddata.py:328-330); the north rule
requires one built on the cell index.

Two strategies:

- :func:`knn_bruteforce` — broadcast the (small) query set, crossJoin
  + haversine + ``row_number`` rank. The right plan when |Q| is small:
  one pass over the big table, no shuffle of the big side beyond the
  rank partitioning on query id. Fully SQL-expressible -> oracle-gated.
- :func:`knn_join` — a query *DataFrame* against the points on a
  planar grid: candidates come from one equi-join on the cells within a
  Chebyshev ring of each query's cell, the ring radius sized up front
  from the points' density, and queries that did not find k
  *guaranteed* neighbors go to one brute-force pass. This is the scale
  path: at 10^12 points the cell equi-join touches only ring cells'
  partitions.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import haversine_m


def knn_bruteforce(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    point_id: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    q_id: str = "q_id",
    q_lon: str = "q_lon",
    q_lat: str = "q_lat",
) -> DataFrame:
    """Exact kNN by broadcast cross join + two-phase rank. Ties broken
    by neighbor id so results are total-ordered and engine-independent.

    The rank is partial-first: top-k per (query, input partition) — a
    shuffle over |Q| * P evenly-sized groups — then a global rank over
    the <= k * P survivors. A single rank partitioned only by query id
    would funnel every pair row through |Q| reducers (the round-1
    bottleneck flagged at 100x scale)."""
    pairs = points.withColumn("_pid", F.spark_partition_id()).crossJoin(
        F.broadcast(queries)
    )
    dist = haversine_m(F.col(lon_col), F.col(lat_col), F.col(q_lon), F.col(q_lat))
    w_part = Window.partitionBy(q_id, "_pid").orderBy(
        F.col("dist_m").asc(), F.col(point_id).asc()
    )
    w_glob = Window.partitionBy(q_id).orderBy(
        F.col("dist_m").asc(), F.col(point_id).asc()
    )
    return (
        pairs.withColumn("dist_m", dist)
        .withColumn("_prank", F.row_number().over(w_part))
        .where(F.col("_prank") <= k)
        .withColumn("rank", F.row_number().over(w_glob))
        .where(F.col("rank") <= k)
        .drop("_pid", "_prank")
    )


# Largest ring radius in cells: (2 * 128 + 1)^2 = 66,049 ring cells per
# query. Queries a ring this wide leaves unresolved go to brute force.
_R_MAX = 128


def _ring_radius(k: int, n_q: int, n_pts: int, nx: int, ny: int,
                 cell_w: float, cell_h: float) -> int:
    """Smallest Chebyshev ring radius r (in cells, 1 <= r <=
    min(max(nx, ny), _R_MAX)) whose inscribed disk of radius
    r * min(cell_w, cell_h) holds fewer than k of ``n_pts`` points,
    spread uniformly over ``nx x ny`` cells, for fewer than half of the
    ``n_q`` queries in expectation. The disk count is Poisson; its lower
    tail is summed term by term in log space, so it stays finite for
    any k."""
    c = min(cell_w, cell_h)
    lam = n_pts / (nx * cell_w * ny * cell_h)

    def n_short(r):  # expected queries with < k points within r * c
        mu = lam * math.pi * (r * c) ** 2
        return n_q * sum(
            math.exp(j * math.log(mu) - mu - math.lgamma(j + 1)) for j in range(k)
        )

    span = min(max(nx, ny), _R_MAX)
    return next((r for r in range(1, span) if n_short(r) < 0.5), span)


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    cell_w: float,
    cell_h: float,
    x0: float = 0.0,
    y0: float = 0.0,
    point_id: str = "point_id",
    px: str = "x",
    py: str = "y",
    q_id: str = "q_id",
    qx: str = "qx",
    qy: str = "qy",
) -> DataFrame:
    """Exact distributed kNN *join*: nearest ``k`` points for every row
    of a query DataFrame (planar metric ``(px-qx)^2 + (py-qy)^2``).

    This is the scale path the round-1 API lacked: queries are a
    DataFrame (10^6 query points fine), candidates come from a bucketed
    equi-join on grid cells of size (cell_w, cell_h) anchored at
    (x0, y0), and the driver only ever sees one aggregate row and one
    count — never data rows. Powers griddata nearest/linear gather
    (griddata.py:286-440 semantics) and DataFrame-scale kNN.

    One candidate pass: a single aggregate job checks ``q_id`` and
    measures the points (count and the 1st-99th percentile cell extent
    on each axis); the ring radius r is the smallest, up to 128 cells,
    for which, at that uniform density, fewer than half of the queries
    are expected to see fewer than k points (see :func:`_ring_radius`).
    One offsets-by-points candidate join is ranked and checkpointed
    once. With fewer than k points (or none) no query can resolve, so
    the candidate pass is skipped and every query goes to brute force.

    Resolution guarantee: a point in a cell at Chebyshev cell-distance
    > r is > r * min(cell_w, cell_h) away, so a query whose kth
    candidate distance is within that bound is exact. One ``count()``
    of the resolved queries decides whether any failed; only then are
    those queries added by a brute-force pass, so dense inputs plan no
    cross join. Trade-off: the radius is global. On heavily clustered
    points the density is that of the extent holding the bulk of them,
    so queries in sparse regions (and near outliers outside it) go to
    the brute-force pass, which scans the points once per call; queries
    in a cluster denser than that extent scan more candidate cells than
    they need.

    ``q_id`` must be unique and non-null across ``queries``: resolved
    queries are counted by distinct id against the query row count.
    Raises ``ValueError`` otherwise. ``queries`` is evaluated up to
    three times (the aggregate, the ring join and the brute-force
    filter), so it must be deterministic; checkpoint an expensive
    query plan before the call.

    Returns ``(q_id, qx, qy, point_id, d2, rank)``.
    """
    pts = points.select(
        F.col(point_id).alias("_pt_id"),
        F.col(px).alias("_px"),
        F.col(py).alias("_py"),
        F.floor((F.col(px) - F.lit(x0)) / F.lit(cell_w)).cast("long").alias("_cx"),
        F.floor((F.col(py) - F.lit(y0)) / F.lit(cell_h)).cast("long").alias("_cy"),
    )
    qs = queries.select(
        F.col(q_id).alias("_q_id"),
        F.col(qx).alias("_qx"),
        F.col(qy).alias("_qy"),
        F.floor((F.col(qx) - F.lit(x0)) / F.lit(cell_w)).cast("long").alias("_qcx"),
        F.floor((F.col(qy) - F.lit(y0)) / F.lit(cell_h)).cast("long").alias("_qcy"),
    )

    d2 = (F.col("_px") - F.col("_qx")) * (F.col("_px") - F.col("_qx")) + (
        F.col("_py") - F.col("_qy")
    ) * (F.col("_py") - F.col("_qy"))
    w = Window.partitionBy("_q_id").orderBy(F.col("d2").asc(), F.col("_pt_id").asc())

    # one job: the q_id check and the points' density aggregate; the
    # extent is the 1st-99th percentile cell range, so a few far
    # outliers do not dilute the density of the bulk of the points
    n_q, n_ids, n_pts, cx, cy = (
        qs.agg(F.count("*"), F.countDistinct("_q_id"))
        .crossJoin(pts.agg(
            F.count("*"),
            F.percentile_approx("_cx", [0.01, 0.99]),
            F.percentile_approx("_cy", [0.01, 0.99]),
        ))
        .first()
    )
    if n_q != n_ids:
        raise ValueError(
            f"knn_join: {q_id!r} must be unique and non-null "
            f"({n_q} rows, {n_ids} distinct ids)"
        )
    resolved, pending = None, qs
    if n_pts and n_pts >= k:  # else no query can find k points: brute force
        r = _ring_radius(
            k, n_q, n_pts, cx[1] - cx[0] + 1, cy[1] - cy[0] + 1, cell_w, cell_h
        )
        # ring offsets as a broadcast DataFrame, NOT an array literal (a
        # wide ring would be a huge expression tree and a codegen blowup)
        off_df = points.sparkSession.createDataFrame(
            [(dx, dy) for dx in range(-r, r + 1) for dy in range(-r, r + 1)],
            "dx long, dy long",
        )
        ring = qs.join(F.broadcast(off_df)).select(
            "_q_id", "_qx", "_qy",
            (F.col("_qcx") + F.col("dx")).alias("_cx"),
            (F.col("_qcy") + F.col("dy")).alias("_cy"),
        )
        cand = ring.join(pts, ["_cx", "_cy"]).select(
            "_q_id", "_qx", "_qy", "_pt_id", d2.alias("d2")
        )
        # per-query candidate sets are ring-bounded (small), so a plain
        # rank per query is cheap here — unlike the all-pairs case
        best = (
            cand.withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") <= k)
            .drop("_rank")
            .localCheckpoint(eager=True)
        )
        bound = (r * min(cell_w, cell_h)) ** 2
        stats = best.groupBy("_q_id").agg(
            F.count("*").alias("_n"), F.max("d2").alias("_dmax")
        )
        done_ids = stats.where(
            (F.col("_n") >= k) & (F.col("_dmax") <= F.lit(bound))
        ).select("_q_id")
        resolved = best.join(done_ids, "_q_id", "leftsemi")
        pending = (
            None if done_ids.count() == n_q
            else qs.join(done_ids, "_q_id", "leftanti")
        )

    if pending is not None:
        # unresolved queries: brute force just those
        pairs = pts.crossJoin(
            F.broadcast(pending.select("_q_id", "_qx", "_qy"))
        ).select("_q_id", "_qx", "_qy", "_pt_id", d2.alias("d2"))
        bf = pairs.withColumn("_rank", F.row_number().over(w)).where(
            F.col("_rank") <= k
        ).drop("_rank")
        resolved = bf if resolved is None else resolved.unionByName(bf)

    ranked = resolved.withColumn("rank", F.row_number().over(w))
    return ranked.select(
        F.col("_q_id").alias(q_id),
        F.col("_qx").alias(qx),
        F.col("_qy").alias(qy),
        F.col("_pt_id").alias(point_id),
        "d2",
        "rank",
    )
