"""Cross-engine-exact derivations shared by the spatial queries.

The driver's correctness gate hashes Spark output against DuckDB
output, so every derived value must be BIT-identical in both engines.
Rules used here:

* coordinates derive from ``doc_id`` by integer multiply/modulo
  (exact in int64) followed by one double divide / multiply / add —
  the same IEEE-754 op sequence in both engines;
* all constants are embedded via Python ``repr`` (round-trip exact);
* the Hilbert bit-algebra (packedrtree.cpp:74-131) runs as the numpy
  kernel (gdal_spark.kernels.hilbert.hilbert_u32) on the Spark side
  and as a DuckDB CTE chain (``hilbert_sql_cte``) on the oracle side,
  with identical masking;
* polygon rings/attrs come from the deterministic fixture
  (gdal_spark.sources.fixtures) and are embedded into the oracle SQL
  as VALUES lists.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

from ..kernels.cells import TileGrid
from ..sources import fixtures as fx

# ---- derived point field --------------------------------------------------
MINX, MINY, MAXX, MAXY = fx.POLY_BBOX
W = MAXX - MINX
H = MAXY - MINY

XMUL = 2654435761
YMUL = 40503
YADD = 12345
PMOD = 1100003          # numerator modulus: fractions reach ~1.1 ->
PDIV = 1000003.0        # ~9% of points fall outside the bbox (negatives)

GRID = TileGrid.local(MINX, MINY, MAXX, MAXY)
CELL_ZOOM = 12


def point_cols(doc_id: Column) -> tuple[Column, Column]:
    """(x, y) doubles from doc_id — Column twin of points_sql."""
    fx_ = ((doc_id * F.lit(XMUL)) % F.lit(PMOD)).cast("double") / F.lit(PDIV)
    fy_ = ((doc_id * F.lit(YMUL) + F.lit(YADD)) % F.lit(PMOD)).cast("double") / F.lit(PDIV)
    x = F.lit(MINX) + F.lit(W) * fx_
    y = F.lit(MINY) + F.lit(H) * fy_
    return x, y


def points_sql() -> str:
    """DuckDB: doc_id -> (x, y), same IEEE op sequence as point_cols."""
    return f"""
    SELECT doc_id,
           {MINX!r} + {W!r} * (CAST((doc_id * {XMUL}) % {PMOD} AS DOUBLE) / {PDIV!r}) AS x,
           {MINY!r} + {H!r} * (CAST((doc_id * {YMUL} + {YADD}) % {PMOD} AS DOUBLE) / {PDIV!r}) AS y
    FROM documents
    """


# ---- tile / cell SQL ------------------------------------------------------
def tile_sql(z: int, x_expr: str, y_expr: str) -> tuple[str, str]:
    """(tx, ty) SQL expressions — twin of functions.tile_xy_cols."""
    ts = GRID.tile_span(z)
    n = (1 << z) - 1
    tx = (f"GREATEST(0, LEAST({n}, CAST(FLOOR(({x_expr} - {GRID.top_left_x!r})"
          f" / {ts!r}) AS BIGINT)))")
    ty = (f"GREATEST(0, LEAST({n}, CAST(FLOOR(({GRID.top_left_y!r} - {y_expr})"
          f" / {ts!r}) AS BIGINT)))")
    return tx, ty


def pack_sql(z: int, tx_expr: str, ty_expr: str) -> str:
    return (f"((CAST({z} AS BIGINT) << 58) | (({tx_expr}) << 29)"
            f" | ({ty_expr}))")


# ---- Hilbert SQL (packedrtree.cpp:74-131 twin) ---------------------------
def hilbert_sql_cte(src_cte: str) -> str:
    """CTE chain computing hkey from ``{src_cte}(doc_id, hx, hy)``.

    Produces a CTE named ``hfin(doc_id, hkey)``.  Same bit algebra as
    kernels.hilbert.hilbert_u32; all values stay < 2^32 on BIGINTs
    given 16-bit inputs.
    """
    M = 65535
    return f"""
    s0 AS (
      SELECT doc_id, hx, hy,
             xor(hx, hy)                 AS a0,
             xor({M}, xor(hx, hy))       AS b0,
             xor({M}, (hx | hy))         AS c0,
             (hx & xor(hy, {M}))         AS d0
      FROM {src_cte}
    ),
    s1 AS (
      SELECT doc_id, hx, hy,
             (a0 | (b0 >> 1))                                  AS a1,
             xor((a0 >> 1), a0)                                AS b1,
             xor(xor((c0 >> 1), (b0 & (d0 >> 1))), c0)         AS c1,
             xor(xor((a0 & (c0 >> 1)), (d0 >> 1)), d0)         AS d1
      FROM s0
    ),
    s2 AS (
      SELECT doc_id, hx, hy,
             xor((a1 & (a1 >> 2)), (b1 & (b1 >> 2)))                   AS a2,
             xor((a1 & (b1 >> 2)), (b1 & (xor(a1, b1) >> 2)))          AS b2,
             xor(c1, xor((a1 & (c1 >> 2)), (b1 & (d1 >> 2))))          AS c2,
             xor(d1, xor((b1 & (c1 >> 2)), (xor(a1, b1) & (d1 >> 2)))) AS d2
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, hx, hy,
             xor((a2 & (a2 >> 4)), (b2 & (b2 >> 4)))                   AS a3,
             xor((a2 & (b2 >> 4)), (b2 & (xor(a2, b2) >> 4)))          AS b3,
             xor(c2, xor((a2 & (c2 >> 4)), (b2 & (d2 >> 4))))          AS c3,
             xor(d2, xor((b2 & (c2 >> 4)), (xor(a2, b2) & (d2 >> 4)))) AS d3
      FROM s2
    ),
    s4 AS (
      SELECT doc_id, hx, hy,
             xor(c3, xor((a3 & (c3 >> 8)), (b3 & (d3 >> 8))))          AS c4,
             xor(d3, xor((b3 & (c3 >> 8)), (xor(a3, b3) & (d3 >> 8)))) AS d4
      FROM s3
    ),
    s5 AS (
      SELECT doc_id,
             xor(hx, hy)                                               AS i0,
             (xor(d4, (d4 >> 1))
              | xor({M}, (xor(hx, hy) | xor(c4, (c4 >> 1)))))          AS i1
      FROM s4
    ),
    s6 AS (
      SELECT doc_id,
             ((i0 | (i0 << 8)) & 16711935) AS j0,
             ((i1 | (i1 << 8)) & 16711935) AS j1
      FROM s5
    ),
    s7 AS (
      SELECT doc_id,
             ((j0 | (j0 << 4)) & 252645135) AS j0,
             ((j1 | (j1 << 4)) & 252645135) AS j1
      FROM s6
    ),
    s8 AS (
      SELECT doc_id,
             ((j0 | (j0 << 2)) & 858993459) AS j0,
             ((j1 | (j1 << 2)) & 858993459) AS j1
      FROM s7
    ),
    s9 AS (
      SELECT doc_id,
             ((j0 | (j0 << 1)) & 1431655765) AS j0,
             ((j1 | (j1 << 1)) & 1431655765) AS j1
      FROM s8
    ),
    hfin AS (
      SELECT doc_id, (((j1 << 1) | j0) & 4294967295) AS hkey FROM s9
    )
    """


# ---- polygon fixture embeddings ------------------------------------------
def _polys():
    return fx.polygons_pandas()


def polygon_edges_values() -> str:
    """VALUES rows (fid, ex1, ey1, ex2, ey2): edge i runs vertex i+1 ->
    vertex i, matching the kernel's (rx[1:], rx[:-1]) pairing
    (kernels.pip.points_in_ring / ogrlinearring.cpp:498-513)."""
    from ..kernels import wkb as kwkb

    rows = []
    for _, p in _polys().iterrows():
        ring = kwkb.polygon_rings(bytes(p["wkb"]))[0]
        for i in range(len(ring) - 1):
            rows.append(
                f"({int(p['fid'])}, {ring[i + 1][0]!r}, {ring[i + 1][1]!r},"
                f" {ring[i][0]!r}, {ring[i][1]!r})"
            )
    return ",\n      ".join(rows)


def polygon_env_values() -> str:
    """VALUES rows (fid, exmin, eymin, exmax, eymax) — ring envelopes
    (the pretest of ogrlinearring.cpp:487-497)."""
    from ..kernels import wkb as kwkb

    rows = []
    for _, p in _polys().iterrows():
        ring = np.asarray(kwkb.polygon_rings(bytes(p["wkb"]))[0], dtype=np.float64)
        mn = ring.min(axis=0)
        mx = ring.max(axis=0)
        rows.append(
            f"({int(p['fid'])}::BIGINT, {float(mn[0])!r}::DOUBLE,"
            f" {float(mn[1])!r}::DOUBLE, {float(mx[0])!r}::DOUBLE,"
            f" {float(mx[1])!r}::DOUBLE)"
        )
    return ",\n      ".join(rows)


def polygon_attr_values() -> str:
    """VALUES rows (fid, eas_id, prfedea) — BIGINT-typed to match the
    Spark side's int64 columns."""
    return ",\n      ".join(
        f"({int(p['fid'])}::BIGINT, {int(p['eas_id'])}::BIGINT, '{p['prfedea']}')"
        for _, p in _polys().iterrows()
    )


def pip_match_cte() -> str:
    """Shared WITH-body: derived points, fixture polygon edges, the
    ray-cast crossing count, and ``inside(doc_id, fid)`` matches —
    reused by the PIP join and every layer-algebra oracle."""
    return f"""
    pts AS ({points_sql()}),
    edges(fid, ex1, ey1, ex2, ey2) AS (VALUES
      {polygon_edges_values()}
    ),
    env(fid, exmin, eymin, exmax, eymax) AS (VALUES
      {polygon_env_values()}
    ),
    attr(fid, eas_id, prfedea) AS (VALUES
      {polygon_attr_values()}
    ),
    cand AS (
      SELECT p.doc_id, p.x, p.y, v.fid
      FROM pts p JOIN env v
        ON p.x >= v.exmin AND p.x <= v.exmax
       AND p.y >= v.eymin AND p.y <= v.eymax
    ),
    crossings AS (
      SELECT c.doc_id, c.fid,
        CASE WHEN (((e.ey1 - c.y) > 0 AND (e.ey2 - c.y) <= 0)
                OR ((e.ey2 - c.y) > 0 AND (e.ey1 - c.y) <= 0))
              AND (((e.ex1 - c.x) * (e.ey2 - c.y) - (e.ex2 - c.x) * (e.ey1 - c.y))
                   / ((e.ey2 - c.y) - (e.ey1 - c.y)) > 0)
        THEN 1 ELSE 0 END AS cr
      FROM cand c JOIN edges e ON e.fid = c.fid
    ),
    inside AS (
      SELECT doc_id, fid FROM crossings
      GROUP BY doc_id, fid HAVING SUM(cr) % 2 = 1
    )
    """


def polygon_bbox_values() -> str:
    """VALUES rows (fid, xmin, ymin, xmax, ymax) — wkb bbox companions."""
    return ",\n      ".join(
        f"({int(p['fid'])}::BIGINT, {float(p['xmin'])!r}::DOUBLE,"
        f" {float(p['ymin'])!r}::DOUBLE, {float(p['xmax'])!r}::DOUBLE,"
        f" {float(p['ymax'])!r}::DOUBLE)"
        for _, p in _polys().iterrows()
    )
