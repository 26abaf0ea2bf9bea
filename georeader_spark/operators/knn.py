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
  planar grid: candidates come from an equi-join on the cells within a
  Chebyshev ring of each query's cell, and the ring doubles for queries
  that did not find k *guaranteed* neighbors. This is the scale path:
  at 10^12 points the cell equi-join touches only ring cells'
  partitions.
"""

from __future__ import annotations

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
    (x0, y0), rings expand geometrically for unresolved queries, and
    the driver only ever sees per-round *counts* — never data rows.
    Powers griddata nearest/linear gather (griddata.py:286-440
    semantics) and DataFrame-scale kNN.

    Resolution guarantee: a point in a cell at Chebyshev cell-distance
    > r is > r * min(cell_w, cell_h) away, so once the kth candidate
    distance is within that bound the query is exact. Stragglers in
    empty regions fall back to brute force after 8 rounds.

    ``q_id`` must be unique and non-null across ``queries``: the driver
    counts resolved queries by distinct id, so a duplicate would keep the
    loop running all 8 rounds and return each neighbor once per copy.
    Raises ``ValueError`` otherwise.

    Returns ``(q_id, qx, qy, point_id, d2, rank)``.
    """
    pts = points.select(
        F.col(point_id).alias("_pt_id"),
        F.col(px).alias("_px"),
        F.col(py).alias("_py"),
        F.floor((F.col(px) - F.lit(x0)) / F.lit(cell_w)).cast("long").alias("_cx"),
        F.floor((F.col(py) - F.lit(y0)) / F.lit(cell_h)).cast("long").alias("_cy"),
    )
    pending = queries.select(
        F.col(q_id).alias("_q_id"),
        F.col(qx).alias("_qx"),
        F.col(qy).alias("_qy"),
        F.floor((F.col(qx) - F.lit(x0)) / F.lit(cell_w)).cast("long").alias("_qcx"),
        F.floor((F.col(qy) - F.lit(y0)) / F.lit(cell_h)).cast("long").alias("_qcy"),
    ).localCheckpoint(eager=True)

    d2 = (F.col("_px") - F.col("_qx")) * (F.col("_px") - F.col("_qx")) + (
        F.col("_py") - F.col("_qy")
    ) * (F.col("_py") - F.col("_qy"))
    w = Window.partitionBy("_q_id").orderBy(F.col("d2").asc(), F.col("_pt_id").asc())

    spark = points.sparkSession
    best = None
    resolved = None
    prev_r, r = -1, 1
    # pending-set size tracked driver-side: emptiness after each round
    # is (n_pending - n_done == 0), read off the same tiny per-round
    # aggregate that drives resolution, so no round needs an emptiness
    # probe job. n_done counts distinct ids, so this is exact only when
    # the ids are distinct — checked in the same job as the row count.
    n_pending, n_ids = pending.agg(
        F.count("*"), F.countDistinct("_q_id")
    ).first()
    if n_pending != n_ids:
        raise ValueError(
            f"knn_join: {q_id!r} must be unique and non-null "
            f"({n_pending} rows, {n_ids} distinct ids)"
        )
    for _ in range(8):
        # annulus offsets: cells at Chebyshev distance (prev_r, r] — a
        # broadcast DataFrame, NOT an array literal (at r=64 that would
        # be a ~16k-element expression tree and a codegen blowup)
        offsets = [
            (dx, dy)
            for dx in range(-r, r + 1)
            for dy in range(-r, r + 1)
            if max(abs(dx), abs(dy)) > prev_r
        ]
        off_df = spark.createDataFrame(offsets, "dx long, dy long")
        ring = pending.join(F.broadcast(off_df)).select(
            "_q_id", "_qx", "_qy",
            (F.col("_qcx") + F.col("dx")).alias("_cx"),
            (F.col("_qcy") + F.col("dy")).alias("_cy"),
        )
        cand = ring.join(pts, ["_cx", "_cy"]).select(
            "_q_id", "_qx", "_qy", "_pt_id", d2.alias("d2")
        )
        allc = cand if best is None else best.unionByName(cand)
        # per-query candidate sets are ring-bounded (small), so a plain
        # rank per query is cheap here — unlike the all-pairs case
        best = (
            allc.withColumn("_rank", F.row_number().over(w))
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
        # one tiny action per round: |done| over the checkpointed best
        # (replaces the former per-round isEmpty() job on pending)
        n_done = done_ids.count()
        newly = best.join(done_ids, "_q_id", "leftsemi")
        resolved = newly if resolved is None else resolved.unionByName(newly)
        n_pending -= n_done
        if n_pending == 0:
            pending = None
            break
        done_renamed = done_ids.withColumnRenamed("_q_id", "_done_id")
        pending = pending.join(
            done_renamed, pending["_q_id"] == F.col("_done_id"), "leftanti"
        ).localCheckpoint(eager=True)
        best = best.join(done_renamed, best["_q_id"] == F.col("_done_id"), "leftanti")
        prev_r, r = r, r * 2

    if pending is not None and n_pending > 0:
        # stragglers (empty regions): brute force just those queries
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
