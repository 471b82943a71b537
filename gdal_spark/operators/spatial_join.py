"""Two-phase cell-indexed spatial join (the engine's flagship operator).

Reproduces the reference's two-phase spatial filter — bbox reject,
then exact test (ogrlayer.cpp:2253-2325) — as one distributed plan,
written once in ``_two_phase`` and shared by every key scheme:

  phase 1 (candidates, pure Catalyst):
      points -> cell key, polygons -> covering cells.  Quadtree keys
      are Column math (``spatial_join``, also the streaming join); S2
      keys come from the Arrow kernel and the bbox coverer
      (``spatial_join_s2``).  Equi-join on cell — broadcast when the
      polygon side is small, else shuffle with explicit hot-cell
      salting (north_rule) on top of AQE's skew handling — then the
      envelope pretest as a Column predicate.

  phase 2 (exact, JVM):
      ray-cast PIP as a Catalyst fold over the polygon's edge array
      (functions.pip_inside_col), bit-identical to
      OGRLinearRing::isPointInRing (ogrlinearring.cpp:462-532) and to
      kernels/pip.py.  The only Python stage is the edge-table build,
      which ``prepare_edges`` runs once per layer.

Polygon attributes re-join by fid.  ``first_match`` and ``how="left"``
key on a row id assigned once per input point, so, like GDAL's filter,
the result does not depend on the shape of the point frame.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import functions as gf
from ..kernels.cells import TileGrid
from ..kernels import wkb as kwkb

DEFAULT_ZOOM = 12


def extract_geo_points(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans) -> + (x, y) from the first geo span.

    Pure Column ops (filter/element_at + string slicing on the POINT
    WKT) — no Python in the scan path.  Preserves `spans` untouched
    so the span-sequence invariant can be checked on every output.
    """
    geo = F.element_at(F.filter("spans", lambda s: s["kind"] == F.lit("geo")), 1)
    inner = F.regexp_extract(geo["text"], r"POINT\(([-0-9.]+) ([-0-9.]+)\)", 1)
    inner_y = F.regexp_extract(geo["text"], r"POINT\(([-0-9.]+) ([-0-9.]+)\)", 2)
    return docs.withColumn("x", inner.cast("double")).withColumn(
        "y", inner_y.cast("double"))


def polygon_cells(polys: DataFrame, grid: TileGrid, zoom: int) -> DataFrame:
    """polygons -> one row per covering cell (coarse index side)."""
    return polys.withColumn(
        "cell",
        F.explode(gf.covering_cells_col(
            grid, zoom, F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))),
    )


_EDGES_SCHEMA = ("fid bigint, edges array<struct<ex1:double,ey1:double,"
                 "ex2:double,ey2:double>>")


def edges_table(polys: DataFrame) -> DataFrame:
    """(fid, edges array<struct>) table for the JVM exact phase,
    built DISTRIBUTIVELY (Arrow mapInPandas over wkb) — never a
    driver collect, so a 10^6-polygon layer decodes in parallel on
    executors.  Edges use the kernel's (vertex i+1, vertex i)
    pairing; even-odd crossings over the full edge set handles holes
    exactly like points_in_polygon."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fids, edge_lists = [], []
            for fid, wkb in zip(pdf["fid"], pdf["wkb"]):
                edges = []
                for ring in kwkb.polygon_rings(bytes(wkb)):
                    for i in range(len(ring) - 1):
                        edges.append({
                            "ex1": float(ring[i + 1][0]),
                            "ey1": float(ring[i + 1][1]),
                            "ex2": float(ring[i][0]),
                            "ey2": float(ring[i][1]),
                        })
                fids.append(int(fid))
                edge_lists.append(edges)
            yield pd.DataFrame({"fid": fids, "edges": edge_lists})

    return polys.select("fid", "wkb").mapInPandas(gen, _EDGES_SCHEMA)


def prepare_edges(polys: DataFrame) -> DataFrame:
    """Build and persist the exact-phase edge table for a polygon
    layer ONCE, for reuse across spatial_join calls.

    The edge build is the only Python (Arrow) stage in the join; a
    layer queried repeatedly (the tile pipeline, the bench, any
    dashboard) should pay it once, not per call.  The caller owns the
    lifecycle (``.unpersist()`` when done) — deliberately no hidden
    module-level registry (see round-2 wrong #3).  Persisted
    MEMORY_AND_DISK: spills under pressure, recomputes on loss.
    """
    from pyspark import StorageLevel

    return edges_table(polys).persist(StorageLevel.MEMORY_AND_DISK)


_BBOX = ("xmin", "ymin", "xmax", "ymax")


def _two_phase(pts: DataFrame, pcells: DataFrame, polys: DataFrame,
               how: str, broadcast: bool | None, salt: int | str,
               first_match: bool, edges: DataFrame | None) -> DataFrame:
    """The refine core every key scheme shares.

    pts    : points with double x, y and a ``cell`` key
    pcells : (cell, fid, xmin, ymin, xmax, ymax) covering table in the
             same key space

    The cell key only generates candidates; the envelope pretest and
    the exact fold decide, so quadtree and S2 callers get the same
    result.  Arguments are ``spatial_join``'s.  ``first_match`` and ``how="left"`` key on a row
    id assigned once per input point, so they hold for any point-frame
    shape (no key column, duplicate rows, non-unique leading column).
    In the left mode the point rows never leave the plan: a point whose
    candidates all fail keeps one row with null polygon columns.
    """
    keep_all = how == "left"
    if salt == "auto":
        # hot-cell diagnostic on the POINT side drives the salt factor
        # (north_rule: explicit salting for coastline/metro hot cells)
        from .partitioning import choose_salt

        salt = choose_salt(pts, "cell")
    if first_match or keep_all:
        pts = pts.withColumn("_rid", F.monotonically_increasing_id())

    keys = ["cell"]
    if salt and salt > 1:
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64(F.col("x"), F.col("y")),
                                             F.lit(salt)).cast("int"))
        pcells = pcells.withColumn("_salt", F.explode(
            F.sequence(F.lit(0), F.lit(salt - 1)))).withColumn(
            "_salt", F.col("_salt").cast("int"))
        keys.append("_salt")

    if broadcast is True:
        right = F.broadcast(pcells)
    elif broadcast is False:
        right = pcells.hint("shuffle_hash")
    else:
        # Catalyst's size estimate picks broadcast for a small dim; AQE
        # converts sort-merge -> broadcast at runtime otherwise.  No
        # driver-side count per call.
        right = pcells
    if edges is None:
        edges = edges_table(polys)
    edges = F.broadcast(edges) if broadcast is not False else edges

    x, y = F.col("x"), F.col("y")
    envelope = ((x >= F.col("xmin")) & (x <= F.col("xmax"))
                & (y >= F.col("ymin")) & (y <= F.col("ymax")))
    inside = gf.pip_inside_col(F.col("edges"), x, y)
    jt = "left" if keep_all else "inner"
    cand = pts.join(right, keys, jt).drop("_salt")
    if keep_all:
        # both phases become a flag so unmatched points stay in the plan
        cand = cand.join(edges, "fid", jt).withColumn(
            "_hit", F.coalesce(envelope & inside, F.lit(False)))
    else:
        cand = cand.filter(envelope).join(edges, "fid", jt).filter(inside)
    matched = cand.drop("edges", "cell", *_BBOX)

    if first_match or keep_all:
        from pyspark.sql.window import Window

        hit = F.col("_hit") if keep_all else F.lit(True)
        order = [hit.desc(), F.col("fid")] if keep_all else [F.col("fid")]
        rn = F.row_number().over(Window.partitionBy("_rid").orderBy(*order))
        keep = F.col("_rn") == 1
        if not first_match:
            keep = keep | hit
        matched = matched.withColumn("_rn", rn).filter(keep)
        if keep_all:
            matched = matched.withColumn("fid", F.when(hit, F.col("fid")))
        matched = matched.drop("_rn", "_rid", "_hit")

    # re-attach full polygon attributes (cheap broadcast by fid)
    attrs = polys.drop("wkb", *_BBOX)
    return matched.join(F.broadcast(attrs), "fid", jt)


def spatial_join(points: DataFrame, polys: DataFrame, grid: TileGrid,
                 zoom: int = DEFAULT_ZOOM, how: str = "inner",
                 broadcast: bool | None = None, salt: int | str = 0,
                 first_match: bool = False,
                 edges: DataFrame | None = None) -> DataFrame:
    """Join point rows to containing polygons, keyed on quadtree cells.

    points : any DF with double columns x, y (see extract_geo_points)
    polys  : DF with fid bigint, wkb binary, xmin/ymin/xmax/ymax double
    how    : 'inner' (matches only) or 'left' (keep unmatched points,
             null polygon attrs — OGR LEFT JOIN shape)
    broadcast : True = broadcast-hint the polygon cell index, False =
             force a shuffle join, None = leave the choice to Catalyst
             statistics + AQE runtime re-planning (no extra driver
             action — a count here would serialize every call)
    salt   : replicate the polygon index `salt` ways and scatter
             points by a point hash — explicit hot-cell skew remedy on
             top of AQE (north_rule).  0/1 = unsalted, 'auto' = chosen
             from the point-side cell histogram.
    first_match : emit at most one polygon per point row (lowest fid) —
             OGR SQL join cardinality (ogr_gensql.cpp:1497-1527).
    edges  : pre-built edge table from ``prepare_edges(polys)`` —
             reuses one persisted edge build across repeated joins on
             the same layer instead of a fresh Python stage per call.
    """
    pts = points.withColumn("cell", gf.cell_col(grid, zoom, F.col("x"), F.col("y")))
    pcells = polygon_cells(polys, grid, zoom).select("cell", "fid", *_BBOX)
    return _two_phase(pts, pcells, polys, how, broadcast, salt, first_match, edges)


def spatial_join_s2(points: DataFrame, polys: DataFrame,
                    level: int = 8, how: str = "inner",
                    broadcast: bool | None = None,
                    first_match: bool = False,
                    edges: DataFrame | None = None) -> DataFrame:
    """S2-keyed variant of ``spatial_join`` (the north star's "H3/S2
    cell" join path) — results are identical to the quadtree join,
    asserted by the pip_join_s2 oracle and tests.

    Points take their level-``level`` S2 cell from the Arrow pandas
    UDF (kernels/s2.py, one key per point); polygons take the cells of
    the bbox coverer (an overcovering candidate set; undercoverage is
    bounded by the coverer's dilation rule).  The envelope pretest and
    exact phase are the shared core's.

    points: DF with lon/lat degree columns named x, y.
    polys:  DF(fid, wkb, xmin/ymin/xmax/ymax) in the same lon/lat CRS.
    """
    from ..kernels import s2 as ks2

    pts = points.withColumn(
        "cell", gf.s2_cell_pandas_key(F.col("x"), F.col("y"), level))

    def _cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bbox = [pdf[c].to_numpy(dtype=np.float64) for c in _BBOX]
            covers = [ks2.cover_bbox_lonlat(*b, level) for b in zip(*bbox)]
            counts = [len(c) for c in covers]
            out = {"cell": np.concatenate([np.empty(0, np.int64), *covers]),
                   "fid": np.repeat(pdf["fid"].to_numpy(dtype=np.int64), counts)}
            out.update({c: np.repeat(v, counts) for c, v in zip(_BBOX, bbox)})
            yield pd.DataFrame(out)

    pcells = polys.select("fid", *_BBOX).mapInPandas(
        _cover, "cell long, fid long, xmin double, ymin double, "
                "xmax double, ymax double")
    return _two_phase(pts, pcells, polys, how, broadcast, 0, first_match, edges)
