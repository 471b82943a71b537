"""Column-level spatial functions (pure Catalyst, JVM-side).

Cell encoding and the point-in-polygon fold are the per-row hot path
of every spatial join at 10^12-doc scale, so they are expressed as
Column expressions — evaluated in the JVM, never touching Python.  The numpy twins in gdal_spark.kernels are the oracle;
tests assert bit-equality between the two.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.cells import TileGrid, X_SHIFT, Z_SHIFT


def tile_xy_cols(grid: TileGrid, z: int, x: Column, y: Column):
    """Tile (tx, ty) of world points — Column twin of TileGrid.tile_xy."""
    ts = grid.tile_span(z)
    n = (1 << z) - 1
    tx = F.floor((x - F.lit(grid.top_left_x)) / F.lit(ts))
    ty = F.floor((F.lit(grid.top_left_y) - y) / F.lit(ts))
    tx = F.greatest(F.lit(0), F.least(F.lit(n), tx)).cast("long")
    ty = F.greatest(F.lit(0), F.least(F.lit(n), ty)).cast("long")
    return tx, ty


def pack_cell_col(z, tx: Column, ty: Column) -> Column:
    """Column twin of kernels.cells.pack_cell."""
    zc = z if isinstance(z, Column) else F.lit(int(z)).cast("long")
    return (
        F.shiftleft(zc, Z_SHIFT)
        .bitwiseOR(F.shiftleft(tx.cast("long"), X_SHIFT))
        .bitwiseOR(ty.cast("long"))
    )


def cell_col(grid: TileGrid, z: int, x: Column, y: Column) -> Column:
    tx, ty = tile_xy_cols(grid, z, x, y)
    return pack_cell_col(z, tx, ty)


def cell_z_col(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, Z_SHIFT)


def cell_x_col(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, X_SHIFT).bitwiseAND(F.lit((1 << 29) - 1))


def cell_y_col(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit((1 << 29) - 1))


def parent_cell_col(cell: Column) -> Column:
    z = cell_z_col(cell)
    return pack_cell_col(z - 1, F.shiftrightunsigned(cell_x_col(cell), 1),
                         F.shiftrightunsigned(cell_y_col(cell), 1))


def pip_inside_col(edges: Column, x: Column, y: Column) -> Column:
    """JVM ray-cast point-in-polygon over an edges array column.

    edges: array<struct<ex1,ey1,ex2,ey2>> — ring edges in the
    (vertex i+1, vertex i) pairing of OGRLinearRing::isPointInRing
    (ogrlinearring.cpp:498-517).  Exactly the kernel arithmetic —
    relative coords, strict/inclusive straddle split, intersection
    strictly > 0 — but counted inside Catalyst, so the exact phase of
    the spatial join stays JVM-side: no Python, no Arrow hop, same
    IEEE doubles as the numpy kernel.

    The count is ``size(filter(...))``, not an ``aggregate()`` fold:
    the optimizer infers a constraint from an ``aggregate()`` that
    captures x and y and copies it onto the edge side of the join,
    where those columns do not exist (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    on points built by ``spark.range``).
    """
    def crossing(e):
        y1 = e["ey1"] - y
        y2 = e["ey2"] - y
        x1 = e["ex1"] - x
        x2 = e["ex2"] - x
        straddle = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
        inter = (x1 * y2 - x2 * y1) / (y2 - y1)
        return straddle & (inter > 0.0)

    return F.size(F.filter(edges, crossing)) % 2 == 1


def hilbert_u32_pandas(x: Column, y: Column) -> Column:
    """Arrow-vectorized Hilbert key (numpy kernel inside a pandas UDF).

    A Column expression of the same bit algebra re-expands into an
    exponentially large codegen tree (each round references the
    previous round's four subexpressions 2-3 times), so the key is
    computed by the kernel: linear work per Arrow batch.
    """
    from pyspark.sql.functions import pandas_udf

    from ..kernels.hilbert import hilbert_u32

    @pandas_udf("long")
    def _h(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = hilbert_u32(xs.to_numpy(dtype="uint32"), ys.to_numpy(dtype="uint32"))
        return pd.Series(out.astype("int64"))

    return _h(x, y)


def covering_cells_col(grid: TileGrid, z: int,
                       xmin: Column, ymin: Column, xmax: Column, ymax: Column) -> Column:
    """Array of cell ids whose tiles intersect a bbox — the Column twin
    of TileGrid.tile_range_for_bbox, built with sequence() so the
    explode of polygon -> covering cells stays JVM-side."""
    tx0, ty1 = tile_xy_cols(grid, z, xmin, ymin)
    tx1, ty0 = tile_xy_cols(grid, z, xmax, ymax)
    xs = F.sequence(tx0, tx1)
    ys = F.sequence(ty0, ty1)
    pairs = F.flatten(F.transform(
        xs, lambda x: F.transform(ys, lambda y: F.struct(x.alias("tx"), y.alias("ty")))))
    return F.transform(pairs, lambda p: pack_cell_col(z, p["tx"], p["ty"]))


def s2_cell_pandas(x: Column, y: Column, z: Column,
                   level: int = 30) -> Column:
    """Arrow-vectorized S2 cell encoding (north-star op): direction
    vector -> struct(face int, pos long).  numpy kernel inside a
    scalar pandas UDF — 30 vectorized passes per Arrow batch, no
    per-row Python (kernels/s2.py)."""
    from pyspark.sql.functions import pandas_udf

    from ..kernels import s2 as ks2

    @pandas_udf("face int, pos long")
    def _s2(xs: pd.Series, ys: pd.Series, zs: pd.Series) -> pd.DataFrame:
        f, p = ks2.s2_encode_xyz(xs.to_numpy(dtype="float64"),
                                 ys.to_numpy(dtype="float64"),
                                 zs.to_numpy(dtype="float64"), level)
        return pd.DataFrame({"face": f.astype("int32"), "pos": p})

    return _s2(x, y, z)


def s2_cell_lonlat_pandas(lon: Column, lat: Column,
                          level: int = 30) -> Column:
    """Degrees -> struct(face, pos) via the unit sphere (same kernel)."""
    from pyspark.sql.functions import pandas_udf

    from ..kernels import s2 as ks2

    @pandas_udf("face int, pos long")
    def _s2(lons: pd.Series, lats: pd.Series) -> pd.DataFrame:
        f, p = ks2.s2_encode_lonlat(lons.to_numpy(dtype="float64"),
                                    lats.to_numpy(dtype="float64"), level)
        return pd.DataFrame({"face": f.astype("int32"), "pos": p})

    return _s2(lon, lat)


def s2_cell_pandas_key(lon: Column, lat: Column, level: int) -> Column:
    """Single-int64 S2 cell key at ``level`` (kernels.s2.cell_key):
    Arrow-vectorized, one key per point — the join key of
    spatial_join_s2."""
    from pyspark.sql.functions import pandas_udf

    from ..kernels import s2 as ks2

    @pandas_udf("long")
    def _k(lons: pd.Series, lats: pd.Series) -> pd.Series:
        f, p = ks2.s2_encode_lonlat(lons.to_numpy(dtype="float64"),
                                    lats.to_numpy(dtype="float64"))
        return pd.Series(ks2.cell_key(f, p, level))

    return _k(lon, lat)
