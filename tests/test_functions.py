"""Column-level functions must be bit-equal to their numpy kernel twins."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdal_spark import functions as gf
from gdal_spark.kernels import cells
from gdal_spark.sources.fixtures import POLY_BBOX


def test_cell_col_matches_kernel(spark):
    rng = np.random.RandomState(42)
    minx, miny, maxx, maxy = POLY_BBOX
    n = 5000
    pdf = pd.DataFrame({
        "x": rng.uniform(minx - 500, maxx + 500, n),
        "y": rng.uniform(miny - 500, maxy + 500, n),
    })
    grid = cells.TileGrid.local(*POLY_BBOX)
    z = 7
    df = spark.createDataFrame(pdf).withColumn(
        "cell", gf.cell_col(grid, z, F.col("x"), F.col("y")))
    got = np.array([r["cell"] for r in df.select("cell").collect()])
    # collect preserves row order for a local createDataFrame -> select
    want = cells.cell_of_point(grid, z, pdf["x"].to_numpy(), pdf["y"].to_numpy())
    assert sorted(got.tolist()) == sorted(want.tolist())


def test_covering_cells_col_matches_kernel(spark):
    grid = cells.TileGrid.local(*POLY_BBOX)
    z = 6
    minx, miny, maxx, maxy = POLY_BBOX
    pdf = pd.DataFrame({
        "xmin": [minx + 100, minx + 900], "ymin": [miny + 100, miny + 700],
        "xmax": [minx + 800, minx + 1500], "ymax": [miny + 600, miny + 1400],
    })
    df = spark.createDataFrame(pdf).withColumn(
        "cells", gf.covering_cells_col(grid, z, F.col("xmin"), F.col("ymin"),
                                       F.col("xmax"), F.col("ymax")))
    for row in df.collect():
        tx0, ty0, tx1, ty1 = grid.tile_range_for_bbox(
            z, row["xmin"], row["ymin"], row["xmax"], row["ymax"])
        want = {
            int(cells.pack_cell(z, x, y))
            for x in range(tx0, tx1 + 1) for y in range(ty0, ty1 + 1)
        }
        assert set(row["cells"]) == want


def test_parent_cell_col(spark):
    df = spark.range(1).select(
        gf.parent_cell_col(F.lit(int(cells.pack_cell(5, 21, 13)))).alias("p"))
    assert df.collect()[0]["p"] == int(cells.pack_cell(4, 10, 6))


def test_cell_encoding_is_wholestage_codegen(spark):
    """The cell-encode plan must stay JVM-side (no BatchEvalPython)."""
    grid = cells.TileGrid.local(*POLY_BBOX)
    df = spark.range(100).select(
        (F.col("id") * 1.0 + 478400).alias("x"), F.lit(4763000.0).alias("y"))
    df = df.withColumn("cell", gf.cell_col(grid, 9, F.col("x"), F.col("y")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
