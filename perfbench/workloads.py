"""The workloads: inputs, set-up, one run, the gate and the trace.

Each workload is driven the same way by ``run.py``:

* ``prepare(cache, seed)`` builds (or loads) the inputs and goldens;
* ``setup(spark, tracer)`` pays what the program pays before its first
  run and returns the state the runs share;
* ``run(spark, state)`` is one closed-loop run, ending in the action
  whose small result the gate checks;
* ``check(spark, result)`` compares that result with the golden,
  outside the timed region;
* ``trace(tracer, spark, state)`` repeats one run with spans around
  each layer.  It returns the run's result, the layer values that are
  not span self times, and the spans that together make up one
  ordinary run (engine-wide metrics are summed over those only, since
  the prefix spans re-execute shared plans).

Why these two (see README.md): ``join_skewed_dense`` is the
shuffle-and-salt join plan over skewed docs against 256-vertex
footprints, where cell keying, the salt choice, the shuffle and the
exact ray-cast fold all show and the fold dominates;
``tile_pipeline`` writes beside reads (lineage commits, many small
jobs, ``applyInPandas``), joins against the small fixture polygons
without salt, and ends with a focal stage that moves tile bytes
through the hand-written halo exchange.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from gdal_spark.kernels import checksum as kck
from gdal_spark.kernels import focal as kfocal
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.sources import fixtures as fx

from . import inputs
from .trace import force, maybe_span

GRID = TileGrid.local(*fx.POLY_BBOX)
ZOOM = 6          # cell zoom of the join, as in jobs/tile_pipeline.py
TILE_ZOOM = 5     # top raster level of the tile pipeline
DEM_TILE = 256


def _read_docs(spark, path):
    return spark.read.parquet(os.path.join(path, "data"))


def pair_checksum_cols(df):
    """Spark twin of ``inputs.pair_checksum`` over a join output."""
    from pyspark.sql import functions as F

    doc = F.substring("doc_id", 5, 9).cast("long")
    key = doc * 16 + F.col("fid").cast("long")
    return df.agg(
        F.count("*").alias("n"), F.sum(key).alias("key"),
        F.sum(F.pmod(key * 2654435761, F.lit(inputs.P31))).alias("h"),
        F.sum(F.size("spans")).alias("spans"))


def _as_dict(row) -> dict:
    return {k: int(v or 0) for k, v in row.asDict().items()}


def _load_cols(path) -> dict:
    with np.load(os.path.join(path, "cols.npz")) as z:
        return {k: z[k] for k in z.files}


def _docs_entry(cache, seed, n):
    def build(path):
        cols = inputs.write_docs(path, n, seed)
        np.savez(os.path.join(path, "cols.npz"), **cols)
        return {"docs": n}
    return cache.entry("docs", seed, n, build)


def cell_candidates(cols, rings_by_fid) -> int:
    """Points whose zoom-``ZOOM`` cell is in a polygon's covering cell
    set, summed over polygons: the phase-1 equi-join's output size."""
    tx, ty = GRID.tile_xy(ZOOM, cols["x"], cols["y"])
    n = 0
    for _fid, rings, _edges in rings_by_fid:
        ring = np.asarray(rings[0])
        tx0, ty0, tx1, ty1 = GRID.tile_range_for_bbox(
            ZOOM, ring[:, 0].min(), ring[:, 1].min(),
            ring[:, 0].max(), ring[:, 1].max())
        n += int(((tx >= tx0) & (tx <= tx1) & (ty >= ty0) & (ty <= ty1)).sum())
    return n


# ---------------------------------------------------------------- joins
class JoinWorkload:
    """Parquet docs -> ``extract_geo_points`` -> ``spatial_join``."""

    min_samples = 4  # a run is a few seconds
    warmup_seconds = 15

    def __init__(self, n_docs, nverts, join_kw):
        self.n_docs, self.nverts, self.join_kw = n_docs, nverts, join_kw

    def prepare(self, cache, seed):
        docs_path, _ = _docs_entry(cache, seed, self.n_docs)

        def build(path):
            os.makedirs(os.path.join(path, "data"))
            cols = _load_cols(docs_path)
            rings = inputs.polygon_rings(inputs.dense_polygons(self.nverts))
            doc, fid, stats = inputs.join_pairs(cols, rings)
            return {"golden": inputs.pair_checksum(doc, fid, cols["nspans"][doc]),
                    "counts": {"join.cell_candidates": cell_candidates(cols, rings),
                               "join.envelope_candidates": stats["envelope_candidates"],
                               "join.matches": len(doc),
                               "join.edges_folded": stats["edges_folded"]}}

        _, self.meta = cache.entry(f"join-v{self.nverts}", seed, self.n_docs, build)
        self.docs_path = docs_path
        return self.n_docs

    def setup(self, spark, tracer=None):
        """First read of the docs and the persisted edge table."""
        from gdal_spark.operators.spatial_join import prepare_edges

        force(_read_docs(spark, self.docs_path))
        polys = spark.createDataFrame(inputs.dense_polygons(self.nverts))
        with maybe_span(tracer, "edges.build"):
            edges = prepare_edges(polys)
            edges.count()
        return {"polys": polys, "edges": edges}

    def teardown(self, state):
        state["edges"].unpersist()

    def run(self, spark, state):
        from gdal_spark.operators.spatial_join import extract_geo_points, spatial_join

        pts = extract_geo_points(_read_docs(spark, self.docs_path))
        out = spatial_join(pts, state["polys"], GRID, zoom=ZOOM,
                           edges=state["edges"], **self.join_kw)
        return _as_dict(pair_checksum_cols(out).collect()[0])

    def warmup(self, spark, state):
        """Runs for ``warmup_seconds`` and at least two.  The first compiles
        the plans and runs the exact fold cold; after it the JIT keeps
        speeding the fold up for a dozen runs (2.3 s to 1.75 s on a
        quiet host), and the timed runs should start near the plateau."""
        t_end = time.perf_counter() + self.warmup_seconds
        self.run(spark, state)
        self.run(spark, state)
        while time.perf_counter() < t_end:
            self.run(spark, state)

    def check(self, spark, result) -> bool:
        return result == self.meta["golden"]

    def trace(self, tracer, spark, state):
        """The full join's span has the phase-1 prefix as its child and,
        when salting is automatic, the salt choice, which the join runs
        internally as its own jobs."""
        from gdal_spark.operators.spatial_join import extract_geo_points

        pts = extract_geo_points(_read_docs(spark, self.docs_path))
        layer, prefix = trace_join_prefixes(tracer, pts, state["polys"],
                                            self.join_kw)
        with tracer.span("join.exact", prefix) as full:
            result = self.run(spark, state)
        layer.update(self.meta["counts"])
        return result, layer, [full]


def trace_join_prefixes(tracer, pts, polys, join_kw):
    """Force the join's phase-1 prefix plans: the cell key, the salt
    choice and the cell equi-join with its envelope pretest.

    Phase 1 has no public entry point of its own, so the prefix is
    composed here from the same public pieces ``spatial_join`` uses
    (``functions.cell_col``, ``polygon_cells``, ``choose_salt``) with
    the same salting and join hint.  Keep it in step with
    ``operators/spatial_join.py``.  Returns the layer values and the
    spans the full join's span takes as children.
    """
    from pyspark.sql import functions as F

    from gdal_spark import functions as gf
    from gdal_spark.operators.partitioning import choose_salt
    from gdal_spark.operators.spatial_join import polygon_cells

    with tracer.span("scan") as scan:
        force(pts)
    with tracer.span("cell_key", [scan]) as ck:
        keyed = pts.withColumn("cell", gf.cell_col(GRID, ZOOM, F.col("x"), F.col("y")))
        force(keyed)
    salt, prefix = join_kw.get("salt", 0), []
    if salt == "auto":
        with tracer.span("salt.choose", [ck]) as sc:
            salt = choose_salt(keyed, "cell")
        prefix.append(sc)
    with tracer.span("join.phase1", [ck]) as p1:
        pcells = polygon_cells(polys, GRID, ZOOM).select(
            "cell", "fid", "xmin", "ymin", "xmax", "ymax")
        keys = ["cell"]
        if salt and salt > 1:
            keyed = keyed.withColumn("_salt", F.pmod(
                F.xxhash64("x", "y"), F.lit(salt)).cast("int"))
            pcells = pcells.withColumn("_salt", F.explode(
                F.sequence(F.lit(0), F.lit(salt - 1)))).withColumn(
                "_salt", F.col("_salt").cast("int"))
            keys = ["cell", "_salt"]
        hint = join_kw.get("broadcast")
        right = (F.broadcast(pcells) if hint is True
                 else pcells.hint("shuffle_hash") if hint is False else pcells)
        cand = keyed.join(right, keys).filter(
            (F.col("x") >= F.col("xmin")) & (F.col("x") <= F.col("xmax"))
            & (F.col("y") >= F.col("ymin")) & (F.col("y") <= F.col("ymax")))
        force(cand)
    return {"salt.factor": float(salt or 0)}, [p1] + prefix


# ---------------------------------------------------------------- tile job
class TilePipeline:
    """The stages of ``jobs/tile_pipeline.py`` over parquet docs: join
    commit, span-sequence check, z5 rasterize, z4..z0 pyramid, each
    committed with lineage; then the ``RasterFocal`` stage over a DEM.

    The focal stage is not part of the job.  It rides here because a
    workload of its own would not fit the benchmark's time budget, and
    without it the halo exchange would go unmeasured.
    """

    min_samples = 1  # one run is already 13-30 s of many small jobs

    def __init__(self, n_docs, work_dir, focal):
        self.n_docs, self.work_dir, self.focal = n_docs, work_dir, focal
        self._runs = 0

    def prepare(self, cache, seed):
        docs_path, _ = _docs_entry(cache, seed, self.n_docs)

        def build(path):
            os.makedirs(os.path.join(path, "data"))
            cols = _load_cols(docs_path)
            rings = inputs.polygon_rings(fx.polygons_pandas())
            doc, fid, _ = inputs.join_pairs(cols, rings)
            first = np.unique(doc)  # first_match keeps one row per doc
            tiles = inputs.z_tile_checksums(cols["x"][first], cols["y"][first],
                                            GRID, TILE_ZOOM)
            return {"joined": int(len(first)),
                    "tiles": {f"{tx},{ty}": ck for (tx, ty), ck in tiles.items()}}

        _, self.meta = cache.entry("tiles", seed, self.n_docs, build)
        self.docs_path = docs_path
        self.focal.prepare(cache, seed)
        return self.n_docs

    def setup(self, spark, tracer=None):
        force(_read_docs(spark, self.docs_path))
        self.focal.setup(spark)
        return {"polys": spark.createDataFrame(fx.polygons_pandas())}

    def teardown(self, state):
        shutil.rmtree(self.work_dir, ignore_errors=True)

    # the job's glue, step by step, so the trace can wrap each step
    def _join_fn(self, docs, polys):
        from gdal_spark.operators.spatial_join import extract_geo_points, spatial_join

        return lambda _unit: spatial_join(extract_geo_points(docs), polys, GRID,
                                          zoom=ZOOM, first_match=True)

    @staticmethod
    def _span_violations(docs, joined) -> int:
        from pyspark.sql import functions as F

        spans_in = docs.select("doc_id", F.xxhash64(F.to_json("spans")).alias("h_in"))
        spans_out = joined.select("doc_id", F.xxhash64(F.to_json("spans")).alias("h_out"))
        return spans_out.join(spans_in, "doc_id").filter(
            F.col("h_in") != F.col("h_out")).count()

    @staticmethod
    def _point_geoms(joined):
        from pyspark.sql import functions as F

        @F.pandas_udf("binary")
        def _pt_wkb(xs: pd.Series, ys: pd.Series) -> pd.Series:
            return pd.Series([kwkb.wkb_point(x, y) for x, y in zip(xs, ys)])

        return joined.select(
            F.col("doc_id").alias("fid"), "x", "y",
            F.col("x").alias("xmin"), F.col("y").alias("ymin"),
            F.col("x").alias("xmax"), F.col("y").alias("ymax"),
        ).withColumn("wkb", _pt_wkb("x", "y"))

    @staticmethod
    def _level_df(spark, z, top, pts, tiles_dir):
        from pyspark.sql import functions as F

        from gdal_spark.operators import lineage as ln
        from gdal_spark.operators.raster_tile import pyramid_reduce, rasterize_tiles

        if z == top:
            t = rasterize_tiles(pts, GRID, z, burn=1.0, merge="ADD", dtype="uint16")
        else:
            prev = ln.read_stage(spark, tiles_dir).filter(F.col("z") == z + 1)
            t = pyramid_reduce(prev, z + 1, method="average", dtype="uint16")
        return t.withColumn(
            "unit",
            F.shiftleft(F.lit(z).cast("long"), 40)
            .bitwiseOR(F.shiftleft(F.shiftrightunsigned("tx", 2), 20))
            .bitwiseOR(F.shiftrightunsigned("ty", 2)))

    def _fresh_dir(self) -> str:
        self._runs += 1
        out = os.path.join(self.work_dir, f"run{self._runs}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def _pipeline(self, spark, docs, polys, top):
        from gdal_spark.operators import lineage as ln

        out = self._fresh_dir()
        join_dir, tiles_dir = os.path.join(out, "joined"), os.path.join(out, "tiles")
        ln.run_stage(spark, join_dir, "bench", "join", [0],
                     self._join_fn(docs, polys))
        joined = ln.read_stage(spark, join_dir)
        bad = self._span_violations(docs, joined)
        pts = self._point_geoms(joined)
        for z in range(top, -1, -1):
            ln.commit_partitioned(spark, tiles_dir, "bench", f"tiles:{z}",
                                  self._level_df(spark, z, top, pts, tiles_dir))
        return {"out": out, "bad": bad}

    def run(self, spark, state):
        result = self._pipeline(spark, _read_docs(spark, self.docs_path),
                                state["polys"], TILE_ZOOM)
        result["focal"] = self.focal.run(spark, state)
        return result

    def warmup(self, spark, state):
        """The join commit, span check and a one-level rasterize on 500
        docs, then the focal stage.  The
        job's cost is mostly per-job and per-task overhead, so a full
        warm-up run would cost as much as a timed one; this one loads
        the same classes, code paths and worker modules for less."""
        result = self._pipeline(spark, _read_docs(spark, self.docs_path).limit(500),
                                state["polys"], 0)
        shutil.rmtree(result["out"], ignore_errors=True)
        self.focal.run(spark, state)

    def check(self, spark, result) -> bool:
        """Zero span-invariant violations, the first-match row count,
        every z5 tile's checksum equal to the numpy burn-count golden,
        and the focal stage's own gate."""
        from pyspark.sql import functions as F

        from gdal_spark.operators import lineage as ln

        out = result["out"]
        joined = ln.read_stage(spark, os.path.join(out, "joined")).count()
        z5 = (ln.read_stage(spark, os.path.join(out, "tiles"))
              .filter(F.col("z") == TILE_ZOOM).select("tx", "ty", "checksum")
              .collect())
        tiles = {f"{r['tx']},{r['ty']}": int(r["checksum"]) for r in z5}
        shutil.rmtree(out, ignore_errors=True)
        return (result["bad"] == 0 and joined == self.meta["joined"]
                and tiles == self.meta["tiles"]
                and self.focal.check(spark, result["focal"]))

    def trace(self, tracer, spark, state):
        """Spans per stage: each lineage commit is the parent of the
        prefix plan it commits (join, rasterize, one pyramid level)."""
        from gdal_spark.operators import lineage as ln
        from gdal_spark.operators.spatial_join import extract_geo_points

        out = self._fresh_dir()
        join_dir, tiles_dir = os.path.join(out, "joined"), os.path.join(out, "tiles")
        docs = _read_docs(spark, self.docs_path)
        join = self._join_fn(docs, state["polys"])
        layer, prefix = trace_join_prefixes(
            tracer, extract_geo_points(docs), state["polys"], {})
        with tracer.span("join.exact", prefix) as jx:
            force(join(0))
        real = []
        with tracer.span("lineage.commit", [jx]) as s:
            recs = ln.run_stage(spark, join_dir, "bench", "join", [0], join)
        real.append(s)
        joined = ln.read_stage(spark, join_dir)
        with tracer.span("span_check") as s:
            bad = self._span_violations(docs, joined)
        real.append(s)
        geoms = self._point_geoms(joined)
        n_tiles = 0
        for z in range(TILE_ZOOM, -1, -1):
            name = "raster.rasterize" if z == TILE_ZOOM else "raster.pyramid"
            with tracer.span(name) as pre:
                force(self._level_df(spark, z, TILE_ZOOM, geoms, tiles_dir))
            with tracer.span("lineage.commit", [pre]) as s:
                level = ln.commit_partitioned(
                    spark, tiles_dir, "bench", f"tiles:{z}",
                    self._level_df(spark, z, TILE_ZOOM, geoms, tiles_dir))
            real.append(s)
            recs += level
            n_tiles += sum(r["row_count"] for r in level)
        layer.update({"lineage.units": len(recs), "raster.tiles": n_tiles,
                      "lineage.bytes_written": _tree_bytes(out)})
        focal, _, focal_real = self.focal.trace(tracer, spark, state)
        return {"out": out, "bad": bad, "focal": focal}, layer, real + focal_real


def _tree_bytes(path) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _d, files in os.walk(path) for f in files)


# ---------------------------------------------------------------- raster
class RasterFocal:
    """``focal_tiles(..., "hillshade")`` over a seeded uint8 DEM of
    ``side`` x ``side`` tiles of 256x256, read from parquet.  A stage of
    ``TilePipeline``, with the same interface as a workload."""

    def __init__(self, side):
        self.side = side

    def prepare(self, cache, seed):
        def build(path):
            dem = inputs.dem(self.side, DEM_TILE, seed)
            t = DEM_TILE
            keys = [(tx, ty) for ty in range(self.side) for tx in range(self.side)]
            os.makedirs(os.path.join(path, "data"))
            pq.write_table(pa.table({
                "tx": pa.array([k[0] for k in keys], pa.int64()),
                "ty": pa.array([k[1] for k in keys], pa.int64()),
                "px": pa.array([dem[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t].tobytes()
                                for tx, ty in keys], pa.binary()),
            }), os.path.join(path, "data", "dem.parquet"), row_group_size=16)
            full = kfocal.focal_array(dem, "hillshade").astype(np.float32)
            golden = {f"{tx},{ty}": kck.checksum(
                full[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t].astype(np.float64),
                is_float=True) for tx, ty in keys}
            return {"golden": golden}

        self.path, self.meta = cache.entry("dem", seed, self.side, build)

    def setup(self, spark):
        force(spark.read.parquet(os.path.join(self.path, "data")))

    def run(self, spark, state):
        from gdal_spark.operators.focal import focal_tiles

        tiles = spark.read.parquet(os.path.join(self.path, "data"))
        rows = focal_tiles(tiles, "hillshade", zoom=0).select(
            "tx", "ty", "checksum").collect()
        return {f"{r['tx']},{r['ty']}": int(r["checksum"]) for r in rows}

    def check(self, spark, result) -> bool:
        """Tile-split invariance: every tile's checksum equals the same
        tile of ``kernels.focal`` applied to the whole array."""
        return result == self.meta["golden"]

    def trace(self, tracer, spark, state):
        with tracer.span("scan.dem") as scan:
            force(spark.read.parquet(os.path.join(self.path, "data")))
        with tracer.span("focal", [scan]) as s:
            result = self.run(spark, state)
        return result, {}, [s]
