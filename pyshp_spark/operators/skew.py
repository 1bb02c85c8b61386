"""Skew diagnosis: the per-cell occupancy histogram.

Dense multipart polygons (blockgroups-style) concentrate many points in
few cells; on the sort-merge PIP join path those cells become straggler
reducers.  ``cell_histogram`` / ``skew_stats`` measure that load with a
cheap pre-pass aggregation (map-side partial combine — one small
shuffle).  The join itself only takes a caller-chosen uniform
``salt_k`` on its shuffle path (operators/spatial.point_in_polygon_join);
AQE skew-join splitting (spark.sql.adaptive.skewJoin.enabled) is the
runtime backstop, and full-row-duplicate hot rows still share one salt
— ROADMAP D2 (per-cell replication sized from this histogram) owns that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyshp_spark.functions.cells import GRID, Grid


def cell_histogram(points: DataFrame, x: str = "x", y: str = "y",
                   grid: Grid = GRID) -> DataFrame:
    """Rows per cell — the skew pre-pass (and the offline twin of
    streaming/streaming_cell_counts)."""
    return (
        points.withColumn("cell", grid.cell_expr(F.col(x), F.col(y)))
        .groupBy("cell")
        .agg(F.count("*").alias("n_rows"))
    )


def skew_stats(points: DataFrame, x: str = "x", y: str = "y",
               grid: Grid = GRID) -> dict:
    """max/mean/median cell occupancy from one aggregation job."""
    hist = cell_histogram(points, x, y, grid)
    row = hist.agg(
        F.max("n_rows").alias("max_rows"),
        F.avg("n_rows").alias("mean_rows"),
        F.expr("percentile_approx(n_rows, 0.5)").alias("median_rows"),
        F.count("*").alias("n_cells"),
    ).collect()[0]
    return {
        "max_rows": row.max_rows,
        "mean_rows": float(row.mean_rows),
        "median_rows": row.median_rows,
        "n_cells": row.n_cells,
    }
