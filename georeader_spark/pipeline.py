"""The flagship pages pipeline (north rule end-to-end, SURVEY.md §7.0):

pages(url, warc_ts, html, text, lang)
  ① extract  — html -> text (JVM regexp chain, byte-identity enforced
               inline) + geotag parse -> (lon, lat)
  ② encode   — GridCell at r=7 (JVM expressions)
  ③ PIP join — broadcast cover equi-join + vectorized refine
  ④ tile     — window/tile assignment under the Europe grid spec
  ⑤ metrics  — per-(cell, poly) counts (the cell-histogram metric)

Scale shape: stage ① is built-in regexp expressions (no Python); ②④
are codegen expressions; ③ joins against a broadcast relation (no
shuffle of the pages side); ⑤ is a partial-agg groupBy — the only wide
dependency in the whole pipeline, keyed by (cell, poly_id) whose
cardinality is tiny next to the input. Hot geotag cells therefore skew
only the *final* agg, which partial aggregation already flattens;
plans/lineage.salt_for_skew handles operators where that is not true.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.geo import cell_encode
from .functions.text_sql import extract_text_col, geotag_lat_col, geotag_lon_col
from .operators.pip_join import boxes_to_polytable, pip_join
from .operators.tiling import assign_points_to_tiles
from .queries import CELL_R, PIP_BOXES, PIP_TRIS, TILE_SIZE, TILE_TRANSFORM
from .sources.pages import pages as synth_pages


def extract_stage(pages: DataFrame) -> DataFrame:
    """① html -> (ext_text, lon, lat) as built-in regexp expressions
    (whole-stage codegen — "UDFs are the slow path"), byte-identity-
    tested against the shared kernels.text extraction. The north-rule
    byte-identity (ext_text == text) is the ``text_ok`` column, so a
    violation is observable as a row-count drop (and test-asserted to
    be zero)."""
    return pages.withColumns(
        {
            "ext_text": extract_text_col(F.col("html")),
            "lon": geotag_lon_col(F.col("html")),
            "lat": geotag_lat_col(F.col("html")),
        }
    ).withColumn("text_ok", F.col("ext_text") == F.col("text"))


def pip_polytable():
    polys = list(boxes_to_polytable(PIP_BOXES))
    for tid, a, b, c in PIP_TRIS:
        polys.append(
            (tid, [[np.array([list(a), list(b), list(c), list(a)], dtype=float)]])
        )
    return polys


def pages_pipeline(
    spark: SparkSession,
    n_rows: int = 20000,
    pages_df: DataFrame | None = None,
    repartition: bool = True,
) -> DataFrame:
    """End-to-end: returns per-(cell, poly_id) page counts.

    ``repartition=False`` keeps the scan partitioning through the
    whole map side (no exchange) — correct when the input splits are
    already balanced (e.g. the bench's uniform parquet files)."""
    pages = pages_df if pages_df is not None else synth_pages(spark, n_rows)
    extracted = extract_stage(pages)
    # invariant gate: rows failing byte-identity would fall out here —
    # tests assert the count equals the input count.
    #
    # The gate is an inner join against a broadcast 1-row relation with
    # the predicate `(text_ok AND lon IS NOT NULL) = _pass` rather than
    # a plain .where(): a deterministic points-side-only filter gets
    # pushed below the extraction Project into the parquet scan's
    # DataFilters, re-evaluating the html decode + extraction regexes
    # per reference (measured: decode ran 3x/row, the geotag regex
    # 2x/row). A predicate referencing both join sides cannot sink, so
    # the extraction Project evaluates ONCE and codegen CSE shares the
    # decode across ext_text/lon/lat. Same structural trick as the PIP
    # refine's coefficients-as-broadcast-columns.
    gate = F.broadcast(spark.createDataFrame([(True,)], "_pass boolean"))
    ok = extracted.join(
        gate,
        (F.col("text_ok") & F.col("lon").isNotNull()) == F.col("_pass"),
        "inner",
    ).drop("_pass")
    encoded = ok.withColumn("cell", cell_encode(F.col("lon"), F.col("lat"), CELL_R))
    # No lineage cut needed: the refine references both join sides (_pip_join_exprs).
    # Byte diet for the wide stages: page identity travels as an 8-byte
    # xxhash64 id, not the url string (~60-90 B/row) — the repartition
    # exchange and every operator after it move 32 B/row of fixed-width
    # columns. At 10^12 rows that is the difference between shuffling
    # ~30 TB and ~100 TB. (The url -> id map is recoverable by re-hashing
    # the source table; collisions at 64 bits are ~1e-7 even at 10^12.)
    slim = encoded.select(
        F.xxhash64("url").alias("page_id"), "lon", "lat", "cell"
    )
    if repartition:
        slim = slim.repartition(2 * spark.sparkContext.defaultParallelism)
    joined = pip_join(slim, pip_polytable(), r=6)
    tiled = assign_points_to_tiles(
        joined, TILE_TRANSFORM, TILE_SIZE, x_col="lon", y_col="lat"
    )
    return (
        tiled.groupBy("cell", "poly_id", "tile_row", "tile_col")
        .agg(F.count("*").alias("n_pages"))
    )
