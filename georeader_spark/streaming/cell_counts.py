"""Structured Streaming surface (optional — the reference has no
streaming, SURVEY.md §2.12; this is the ingest shape a production
deployment would add).

``streaming_cell_counts``: a readStream over pages parquet ->
extract/geotag -> cell encode -> 1-day event-time tumbling window with
watermark (the solar-day grouping analog: query_utils.py:49) ->
per-(window, cell) counts. Late pages beyond the watermark drop, which
is the correct semantics for a crawl feed.

Tested with Trigger.AvailableNow over a static directory (batch parity
with the batch pipeline's counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geo import cell_encode
from ..pipeline import extract_stage


def streaming_cell_counts(
    spark: SparkSession,
    pages_dir: str,
    schema,
    r: int = 7,
    watermark: str = "2 days",
    window_len: str = "1 day",
) -> DataFrame:
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    extracted = extract_stage(stream).select("warc_ts", "lon", "lat")
    encoded = extracted.where(F.col("lon").isNotNull()).withColumn(
        "cell", cell_encode(F.col("lon"), F.col("lat"), r)
    )
    return (
        encoded.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_len).alias("day"), "cell")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("day.start").alias("day_start"),
            "cell",
            "n_pages",
        )
    )


def run_available_now(stream_df: DataFrame, out_dir: str, ckpt_dir: str) -> None:
    """Drain the stream once (AvailableNow) to parquet — batch-parity
    test hook and the resumable-ingest pattern (checkpointed state)."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_pages_pipeline(
    spark: SparkSession,
    pages_dir: str,
    schema,
    watermark: str = "2 days",
    window_len: str = "1 day",
) -> DataFrame:
    """The FULL north-rule pipeline as a stream: readStream pages ->
    JVM extract (byte-identity gate) -> cell encode -> broadcast PIP
    join (stream-static equi-join — the polygon cover is a static
    broadcast relation, so the stream side never shuffles for it) ->
    tile assignment -> watermarked event-time window counts per
    (day, cell, poly, tile). AvailableNow-drained batch-parity tested
    against the batch pipeline's counts."""
    from ..operators.pip_join import pip_join
    from ..operators.tiling import assign_points_to_tiles
    from ..pipeline import pip_polytable
    from ..queries import CELL_R, TILE_SIZE, TILE_TRANSFORM

    stream = spark.readStream.schema(schema).parquet(pages_dir)
    extracted = extract_stage(stream)
    ok = extracted.where(F.col("text_ok") & F.col("lon").isNotNull())
    encoded = ok.withColumn(
        "cell", cell_encode(F.col("lon"), F.col("lat"), CELL_R)
    ).select("warc_ts", "lon", "lat", "cell")
    joined = pip_join(encoded, pip_polytable(), r=6)
    tiled = assign_points_to_tiles(
        joined, TILE_TRANSFORM, TILE_SIZE, x_col="lon", y_col="lat"
    )
    return (
        tiled.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window_len).alias("day"),
            "cell", "poly_id", "tile_row", "tile_col",
        )
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("day.start").alias("day_start"),
            "cell", "poly_id", "tile_row", "tile_col", "n_pages",
        )
    )
