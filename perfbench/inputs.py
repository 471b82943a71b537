"""Deterministic, cached benchmark inputs and their goldens.

Everything is a function of (seed, size): the docs table in the
``input_hint`` shape, the dense polygon footprints and the DEM.  The
program under test only ever sees the files written here.

The docs generator is a vectorised twin of
``gdal_spark.sources.fixtures.docs_pandas``: for one chunk it makes the
same RandomState draws in the same order and builds the same strings,
so ``docs_chunk(n, seed, 0)`` equals ``docs_pandas(n, seed)`` row for
row (``tests/test_perfbench.py`` asserts it).  It writes Arrow arrays
directly instead of a Python dict per span, which is what makes a
fresh seed affordable inside one benchmark run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gdal_spark.kernels import pip as kpip
from gdal_spark.kernels import wkb as kwkb
from gdal_spark.kernels.cells import TileGrid
from gdal_spark.sources import fixtures as fx

CHUNK = 250_000
FORMAT = 1  # bump when the on-disk layout or a golden definition changes

SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int64())])

# "tok%04d tok%04d tok%04d" depends only on t in [0, 9973)
_TOKENS = np.array([f"tok{t:04d} tok{(t * 3 + 1) % 9973:04d} "
                    f"tok{(t * 5 + 2) % 9973:04d}" for t in range(9973)],
                   dtype=object)
_KINDS = pa.array(["text", "image", "audio", "geo"])
_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def chunk_seed(seed: int, chunk: int) -> int:
    return (seed * 1_000_003 + chunk) % (1 << 32)


def _media_refs(v: np.ndarray) -> pa.Array:
    """``f"media://{v:012x}"`` for 48-bit ``v``, built as one buffer."""
    n = len(v)
    digits = _HEX[(v[:, None] >> (4 * np.arange(11, -1, -1))) & 0xF]
    body = np.empty((n, 20), dtype=np.uint8)
    body[:, :8] = np.frombuffer(b"media://", dtype=np.uint8)
    body[:, 8:] = digits
    offsets = np.arange(0, 20 * n + 1, 20, dtype=np.int32)
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(body.tobytes()))


def docs_chunk(n: int, seed: int, start: int) -> tuple[pa.Table, dict]:
    """``n`` docs numbered from ``start``, drawn from ``RandomState(seed)``.

    Returns the Arrow table (doc_id, spans) and a dict of numpy columns
    the goldens need: ``doc`` (global index), ``x``/``y`` (the doubles
    the engine parses from the POINT text) and ``nspans``.
    """
    rng = np.random.RandomState(seed)
    minx, miny, maxx, maxy = fx.POLY_BBOX
    n_spans = rng.randint(1, 9, size=n)
    starts = np.zeros(n, dtype=np.int64)
    starts[1:] = np.cumsum(n_spans)[:-1]
    total = int(n_spans.sum())
    local = np.arange(n, dtype=np.int64)
    doc_local = np.repeat(local, n_spans)
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, n_spans)
    geo_pos = (local * 7919) % n_spans
    is_geo = pos == np.repeat(geo_pos, n_spans)

    u = rng.uniform(size=n)
    hot_mask = u < 0.20
    out_mask = (u >= 0.20) & (u < 0.25)
    hot_id = (local * 2654435761 % 3).astype(np.int64)
    lon = rng.uniform(minx, maxx, size=n)
    lat = rng.uniform(miny, maxy, size=n)
    hcx = np.array([c[0] for c in fx.HOT_CENTERS])[hot_id]
    hcy = np.array([c[1] for c in fx.HOT_CENTERS])[hot_id]
    lon = np.where(hot_mask, hcx + rng.uniform(-50, 50, n), lon)
    lat = np.where(hot_mask, hcy + rng.uniform(-50, 50, n), lat)
    lon = np.where(out_mask, maxx + rng.uniform(1_000, 6_000, n), lon)
    lat = np.where(out_mask, maxy + rng.uniform(1_000, 6_000, n), lat)

    # kind codes index _KINDS: geo at its slot, others text / media
    code = np.where(pos % 2 == 0, 0, np.where(doc_local % 2 == 0, 1, 2))
    code[is_geo] = 3
    is_text = code == 0
    is_media = (code == 1) | (code == 2)

    texts = np.full(total, "", dtype=object)
    tok = (doc_local * 31 + pos * 7) % 9973
    texts[is_text] = _TOKENS[tok[is_text]]
    points = [f"POINT({x:.9f} {y:.9f})" for x, y in zip(lon, lat)]
    texts[is_geo] = points  # one geo span per doc, in doc order

    media = np.full(total, "", dtype=object)
    mh = (doc_local * 1_000_003 + pos * 97) & 0xFFFFFFFFFFFF
    media[is_media] = _media_refs(mh[is_media]).to_numpy(zero_copy_only=False)

    spans = pa.StructArray.from_arrays(
        [pa.DictionaryArray.from_arrays(code.astype(np.int8), _KINDS)
         .cast(pa.string()), pa.array(texts, pa.string()),
         pa.array(media, pa.string()), pa.array(pos, pa.int64())],
        fields=list(SPAN_TYPE))
    offsets = np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32)
    table = pa.table({
        "doc_id": pa.array([f"doc-{i:09d}" for i in range(start, start + n)],
                           pa.string()),
        "spans": pa.ListArray.from_arrays(pa.array(offsets), spans),
    })
    # the engine casts the regex-extracted text; Python's float() is the
    # same correctly-rounded parse as the JVM's Double.parseDouble
    xy = pc.extract_regex(pa.array(points, pa.string()),
                          r"POINT\((?P<x>[-0-9.]+) (?P<y>[-0-9.]+)\)")
    cols = {"doc": local + start,
            "x": xy.field("x").cast(pa.float64()).to_numpy(),
            "y": xy.field("y").cast(pa.float64()).to_numpy(),
            "nspans": n_spans.astype(np.int64)}
    return table, cols


# ------------------------------------------------------------------ polygons
def dense_polygons(nverts: int) -> "pd.DataFrame":
    """The 10 fixture footprints (same centres, radii, wobble and
    attributes as ``fixtures.polygons_pandas``) sampled at ``nverts``
    distinct vertices each."""
    import pandas as pd

    minx, miny, maxx, maxy = fx.POLY_BBOX
    w, h = maxx - minx, maxy - miny
    rows = []
    for fid, area, eas, prf in fx.POLY_ATTRS:
        cx = minx + w * (0.12 + 0.19 * (fid % 5))
        cy = miny + h * (0.28 + 0.45 * (fid // 5))
        rx = w * (0.055 + 0.015 * ((fid * 3) % 4))
        ry = h * (0.075 + 0.02 * ((fid * 5) % 3))
        ang = 2 * np.pi * np.arange(nverts) / nverts
        wob = 1.0 + 0.25 * np.sin(3 * ang + fid)
        ring = np.column_stack([cx + rx * wob * np.cos(ang),
                                cy + ry * wob * np.sin(ang)])
        ring = np.vstack([ring, ring[:1]])
        wkb = kwkb.wkb_polygon([ring])
        bx = kwkb.wkb_bbox(wkb)
        rows.append({"fid": fid, "area": area, "eas_id": eas, "prfedea": prf,
                     "wkb": wkb, "xmin": bx[0], "ymin": bx[1],
                     "xmax": bx[2], "ymax": bx[3]})
    return pd.DataFrame(rows)


def polygon_rings(polys) -> list[tuple[int, list, int]]:
    """(fid, rings, edge count) per polygon, in fid order."""
    out = []
    for fid, wkb in sorted(zip(polys["fid"], polys["wkb"])):
        rings = kwkb.polygon_rings(bytes(wkb))
        out.append((int(fid), rings, sum(len(r) - 1 for r in rings)))
    return out


# ------------------------------------------------------------------ goldens
P31 = (1 << 31) - 1


def pair_checksum(doc: np.ndarray, fid: np.ndarray, nspans: np.ndarray) -> dict:
    """Order-independent checksum of a (doc, fid) pair multiset.

    count, sum of key, sum of a multiplicative hash of key, and the
    sum of span counts (keeps the spans column live through the join).
    A dropped or duplicated pair changes every field.  The Spark side
    computes the same from ``pair_checksum_cols`` in workloads.py.
    """
    key = doc.astype(np.int64) * 16 + fid.astype(np.int64)
    return {"n": int(len(key)), "key": int(key.sum()),
            "h": int(((key * 2654435761) % P31).sum()),
            "spans": int(nspans.sum())}


def join_pairs(cols: dict, rings_by_fid) -> tuple[np.ndarray, np.ndarray, dict]:
    """Every (doc index, fid) with the doc's point inside the polygon,
    by the numpy ray cast of ``kernels/pip.py`` (OGR ``isPointInRing``),
    plus the per-polygon counts the trace's derived counters need."""
    x, y = cols["x"], cols["y"]
    docs, fids = [], []
    stats = {"envelope_candidates": 0, "edges_folded": 0}
    for fid, rings, n_edges in rings_by_fid:
        ring = np.asarray(rings[0])
        in_env = ((x >= ring[:, 0].min()) & (x <= ring[:, 0].max())
                  & (y >= ring[:, 1].min()) & (y <= ring[:, 1].max()))
        idx = np.flatnonzero(in_env)
        stats["envelope_candidates"] += len(idx)
        stats["edges_folded"] += len(idx) * n_edges
        inside = np.zeros(len(idx), dtype=bool)
        for lo in range(0, len(idx), 20_000):
            sl = idx[lo:lo + 20_000]
            inside[lo:lo + 20_000] = kpip.points_in_polygon(x[sl], y[sl], rings)
        hit = idx[inside]
        docs.append(hit)
        fids.append(np.full(len(hit), fid, dtype=np.int64))
    return np.concatenate(docs), np.concatenate(fids), stats


def z_tile_checksums(x: np.ndarray, y: np.ndarray, grid: TileGrid, zoom: int,
                     dtype: str = "uint16") -> dict:
    """Burn-count tiles of points at ``zoom`` (MERGE ADD of 1 per point,
    llrasterize point rule), as {(tx, ty): GDAL checksum}.  Uses the
    same floor/geotransform arithmetic as ``rasterize_tiles``."""
    from gdal_spark.kernels import checksum as kck

    ts, size = grid.tile_span(zoom), grid.tile_size
    tx, ty = grid.tile_xy(zoom, x, y)
    x0 = grid.top_left_x + tx.astype(np.float64) * ts
    y0 = grid.top_left_y - ty.astype(np.float64) * ts
    res = grid.resolution(zoom)
    ix = np.floor((x - x0) / res).astype(np.int64)
    iy = np.floor((y - y0) / -res).astype(np.int64)
    ok = (ix >= 0) & (ix < size) & (iy >= 0) & (iy < size)
    tile = tx * (1 << zoom) + ty
    out = {}
    order = np.argsort(tile, kind="stable")
    tile_s, bounds = np.unique(tile[order], return_index=True)
    bounds = list(bounds) + [len(order)]
    for i, t in enumerate(tile_s):
        sel = order[bounds[i]:bounds[i + 1]]
        sel = sel[ok[sel]]
        img = np.zeros(size * size, dtype=np.int64)
        np.add.at(img, iy[sel] * size + ix[sel], 1)
        img = img.astype(dtype).reshape(size, size)
        out[(int(t >> zoom), int(t & ((1 << zoom) - 1)))] = kck.checksum(img)
    return out


# ------------------------------------------------------------------ DEM
def dem(side_tiles: int, tile: int, seed: int) -> np.ndarray:
    """Seeded uint8 terrain: smooth ridges plus noise, so hillshade
    sees real gradients at every tile seam."""
    rng = np.random.RandomState(seed)
    n = side_tiles * tile
    yy, xx = np.mgrid[0:n, 0:n].astype(np.float64)
    f = rng.uniform(0.002, 0.02, size=4)
    ph = rng.uniform(0, 2 * np.pi, size=4)
    z = (60 * np.sin(f[0] * xx + ph[0]) + 50 * np.cos(f[1] * yy + ph[1])
         + 30 * np.sin(f[2] * (xx + yy) + ph[2])
         + 20 * np.cos(f[3] * (xx - yy) + ph[3]))
    z += rng.uniform(-8, 8, size=z.shape)
    return np.clip(z + 128, 0, 255).astype(np.uint8)


# ------------------------------------------------------------------ cache
def _dir_hash(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for name in sorted(files):
            with open(os.path.join(root, name), "rb") as f:
                h.update(name.encode())
                h.update(f.read())
    return h.hexdigest()[:16]


class Cache:
    """Inputs and goldens on disk, keyed by (kind, seed, size).

    An entry is a directory that is complete once ``meta.json`` exists;
    a half-written entry from a killed run is removed and rebuilt.  Only
    the ``KEEP`` most recently used entries are kept.
    """

    KEEP = 40  # about 13 seeds of inputs, ~0.3 GB

    def __init__(self, root: str):
        self.root = root

    def _prune(self) -> None:
        entries = sorted((os.path.getmtime(os.path.join(self.root, e)), e)
                         for e in os.listdir(self.root))
        for _mtime, e in entries[:-self.KEEP]:
            shutil.rmtree(os.path.join(self.root, e), ignore_errors=True)

    def entry(self, kind: str, seed: int, size: int, build) -> tuple[str, dict]:
        path = os.path.join(self.root, f"v{FORMAT}-{kind}-s{seed}-n{size}")
        meta_path = os.path.join(path, "meta.json")
        if os.path.exists(meta_path):
            os.utime(path)  # most recently used: kept by _prune
            with open(meta_path) as f:
                return path, json.load(f)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        meta = build(path)
        meta["content_hash"] = _dir_hash(os.path.join(path, "data"))
        with open(meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(meta_path + ".tmp", meta_path)
        self._prune()
        return path, meta


def write_docs(path: str, n: int, seed: int) -> dict:
    """Write ``n`` docs as parquet (one file per chunk) under
    ``path/data`` and return the columns the goldens need."""
    os.makedirs(os.path.join(path, "data"))
    parts = []
    for c, start in enumerate(range(0, n, CHUNK)):
        table, cols = docs_chunk(min(CHUNK, n - start), chunk_seed(seed, c), start)
        pq.write_table(table, os.path.join(path, "data", f"part-{c:05d}.parquet"),
                       row_group_size=64 * 1024)
        parts.append(cols)
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
